"""WARC source — Common-Crawl's native archive format as a DataFrame.

The north-star input is "an Iceberg table of Common-Crawl-style web
pages (url, warc_ts, html, text, lang)"; the raw material those tables
are curated FROM is WARC: concatenated WARC/1.0 records, each a block
of CRLF header lines (WARC-Type, WARC-Target-URI, WARC-Date,
Content-Length) + CRLF CRLF + a Content-Length-sized payload + CRLF
CRLF. Common Crawl ships ``.warc.gz`` where every record is its own
gzip member, so a plain multi-member gzip decompress recovers the
stream without any index.

``read_warc`` turns a directory of ``.warc``/``.warc.gz`` files into
(url, warc_ts, html, text) rows:

- file-level parallelism via Spark's ``binaryFile`` source (Common
  Crawl segments are ~1 GB × thousands of files — the natural split;
  cap ``spark.sql.files.maxPartitionBytes`` has no effect on
  binaryFile, so partition count == file count);
- record parsing in ``mapInArrow``: the header scan is bounded
  per-record work, payload slicing is zero-copy off the decompressed
  buffer;
- only ``response`` records yield rows (request/metadata/warcinfo are
  skipped, as a curation job would);
- the HTTP response envelope is stripped: ``html`` is the entity body
  only;
- ``text`` is extracted with the repo's canonical byte-exact
  ``<html><body>…</body></html>`` unwrap when the body matches it
  (the synthetic-corpus invariant), else a whitespace-normalizing tag
  strip (best-effort for wild pages).

``write_warc_file`` is the deterministic fixture producer (per-member
gzip, exactly the Common-Crawl layout).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WARC_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
    ]
)

_WRAP_PRE = b"<html><body>"
_WRAP_POST = b"</body></html>"

# work lists up to this many rows embed as literal arrays (cheap, no
# extra job); beyond it the per-row element_at scan is quadratic and a
# real DataFrame + repartitionByRange takes over
_LITERAL_WORKLIST_MAX = 2048


def _strip_http(payload: bytes) -> bytes:
    """Drop the HTTP response envelope of a WARC response record,
    returning the entity body (Common Crawl stores the full HTTP
    message as the record payload)."""
    if payload[:5] in (b"HTTP/", b"http/"):
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4 :]
    return payload


def extract_text(html: bytes) -> str:
    """Byte-exact unwrap for the repo's canonical html wrapper, else a
    best-effort tag strip with whitespace normalization."""
    if html.startswith(_WRAP_PRE) and html.endswith(_WRAP_POST):
        return html[len(_WRAP_PRE) : -len(_WRAP_POST)].decode("utf-8", "replace")
    import re

    s = html.decode("utf-8", "replace")
    s = re.sub(r"(?is)<(script|style)[^>]*>.*?</\1>", " ", s)
    s = re.sub(r"(?s)<[^>]+>", " ", s)
    return " ".join(s.split())


def _rows_per_task_df(
    spark: SparkSession, cols: "dict[str, list]", par: int
) -> DataFrame:
    """Small work-list DataFrame (one row per element of each column
    in ``cols``, all the same length) spread EVENLY over ``par``
    partitions. Neither hash partitioning (key-hash collisions) nor
    ``repartition(n)`` round-robin (Spark picks a RANDOM starting
    target per input partition, so a handful of 1-row partitions can
    collide onto one task — measured 2x wall on an 8-file read) places
    few-row DataFrames evenly; ``spark.range`` with explicit
    numPartitions slices deterministically, and ``element_at`` maps
    ids back to values JVM-side. Shared by every source that fans a
    driver-built work list (files, byte ranges, record slices) out to
    tasks.

    Two routes by size: small lists ride ``spark.range`` +
    ``element_at`` over literal arrays (zero extra jobs, perfectly
    even slices); past ``_LITERAL_WORKLIST_MAX`` rows that plan is
    O(N) expression per row — O(N^2) total — so large lists build a
    real DataFrame and ``repartitionByRange`` on the sequential id,
    which range-slices near-evenly (ids are uniform) without the
    round-robin collision hazard."""
    from pyspark.sql import functions as F

    n = len(next(iter(cols.values())))
    p = max(1, min(par, n))
    if n > _LITERAL_WORKLIST_MAX:
        names = list(cols)
        rows = list(zip(range(n), *[cols[name] for name in names]))
        df = spark.createDataFrame(rows, ["_wl_id"] + names)
        return df.repartitionByRange(p, "_wl_id").drop("_wl_id")
    idx = (F.col("id") + 1).cast("int")
    return spark.range(0, n, 1, p).select(
        *[
            F.element_at(F.array(*[F.lit(v) for v in vals]), idx).alias(name)
            for name, vals in cols.items()
        ]
    )


def _list_local(path: str, glob: str, what: str) -> list[str]:
    """Sorted local files of a path-based reader: ``path`` is a local
    file, directory (matched with ``glob``) or glob pattern, with an
    optional ``file://`` prefix. Raises ``FileNotFoundError`` naming
    ``what`` when nothing matches."""
    import glob as _glob
    import os

    raw = path[7:] if path.startswith("file://") else path
    pat = os.path.join(raw, glob) if os.path.isdir(raw) else raw
    files = sorted(_glob.glob(pat))
    if not files:
        raise FileNotFoundError(f"no {what} files match {pat}")
    return files


def _bounded_reader(read, left: int):
    """``read(n)`` that returns at most ``left`` bytes in total, then
    ``b""`` — one task's byte range of an open file."""

    def bounded(n: int):
        nonlocal left
        if left <= 0:
            return b""
        piece = read(min(n, left))
        left -= len(piece)
        return piece

    return bounded


def _range_task_df(
    spark: SparkSession,
    ranges: "list[tuple[str, int, int]]",
    par: int,
    opener,
    decode,
    schema: StructType,
) -> DataFrame:
    """The byte-range task kernel every path-based source reader runs.
    ``ranges`` are (path, start, end) work rows, spread over ``par``
    tasks by ``_rows_per_task_df``. Each task opens its path with
    ``opener(path)`` (default ``open(path, "rb")``), seeks only when
    ``start > 0`` — so a whole-file range works on a handle that has
    just ``read`` and ``close`` — and passes ``decode`` a ``read(n)``
    that stops at ``end``. ``decode(read)`` yields the Arrow batches."""
    cols = dict(zip(("path", "start", "end"), map(list, zip(*ranges))))
    pdf = _rows_per_task_df(spark, cols, par)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for path, start, end in zip(*(c.to_pylist() for c in batch.columns)):
                fh = opener(path) if opener is not None else open(path, "rb")
                try:
                    if start > 0:
                        fh.seek(start)
                    yield from decode(_bounded_reader(fh.read, end - start))
                finally:
                    fh.close()

    return pdf.mapInArrow(kernel, schema)


class _StreamParser:
    """Incremental WARC record parser with bounded buffering.

    ``feed()`` takes decompressed chunks in any split; complete records
    drain immediately, so the internal buffer never holds more than
    (one in-flight record + one chunk). The torn-tail rule matches the
    batch parser exactly: Content-Length is authoritative — a record
    whose payload the stream ends inside is dropped, never emitted
    short (read_exact semantics), and a non-WARC header at a record
    boundary marks the rest of the stream dead (no resync guessing)."""

    # A WARC/HTTP header block beyond this is not a WARC stream; the
    # guard keeps the buffer bounded even when a non-WARC file (e.g. a
    # .warc.zst the gzip sniff passes through raw) never produces a
    # header terminator — without it the "bounded memory" contract
    # would silently fail on exactly the oversized-input shape this
    # parser exists for.
    MAX_HEADER_BYTES = 1 << 20
    # Payload analog of the header guard: a corrupt/hostile
    # Content-Length (e.g. 2^60) would otherwise make the parser
    # buffer the entire rest of the stream waiting for a payload that
    # never completes. Common Crawl truncates payloads at ~1 MiB; 1 GiB
    # leaves room for uncurated archives while keeping "one in-flight
    # record" an actual bound.
    MAX_RECORD_BYTES = 1 << 30

    def __init__(self, max_record_bytes: int | None = None) -> None:
        self._buf = bytearray()
        self.dead = False
        if max_record_bytes is not None:
            self.MAX_RECORD_BYTES = max_record_bytes

    def feed(self, chunk) -> Iterator[dict]:
        if self.dead:
            return
        self._buf.extend(chunk)
        yield from self._drain()

    def _drain(self) -> Iterator[dict]:
        buf = self._buf
        pos = 0
        n = len(buf)
        while pos < n:
            # skip inter-record CRLFs
            while buf[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            hdr_end = buf.find(b"\r\n\r\n", pos)
            if hdr_end < 0:
                if n - pos > self.MAX_HEADER_BYTES:
                    self.dead = True  # no record boundary in 1 MiB: not WARC
                    pos = n
                break  # incomplete header — wait for more input
            headers: dict[str, str] = {}
            first = None
            for line in bytes(buf[pos:hdr_end]).split(b"\r\n"):
                if first is None:
                    first = line
                    continue
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1", "replace"
                )
            if first is None or not first.startswith(b"WARC/"):
                self.dead = True  # not a WARC stream / corrupt from here on
                pos = n
                break
            try:
                length = int(headers.get("content-length", ""))
            except ValueError:
                self.dead = True
                pos = n
                break
            if length < 0 or length > self.MAX_RECORD_BYTES:
                self.dead = True  # hostile/corrupt length: stream dead
                pos = n
                break
            body_start = hdr_end + 4
            if n - body_start < length:
                break  # payload not fully buffered yet (or torn tail)
            payload = bytes(buf[body_start : body_start + length])
            pos = body_start + length
            if headers.get("warc-type") == "response":
                yield {
                    "url": headers.get("warc-target-uri"),
                    "warc_ts": headers.get("warc-date"),
                    "payload": payload,
                }
        if pos:
            del buf[:pos]

    def buffered(self) -> int:
        """Bytes currently held (test hook for the memory bound)."""
        return len(self._buf)


def _stream_gzip_members(
    read, chunk_bytes: int = 4 << 20, feed_start: int = 4096
) -> Iterator[bytes]:
    """The one WARC decoder: yield the decompressed bytes of a
    (possibly multi-member) gzip stream read via bounded
    ``read(chunk_bytes)`` calls, one piece per gzip member (a member
    that decompresses past ``chunk_bytes`` comes in pieces of about
    that size). Plain (non-gzip) streams pass their chunks through. At
    no point does the whole compressed file or the decompressed stream
    sit in memory. A torn or corrupt member ends the iteration after
    yielding what decompressed before the damage; the record parser's
    Content-Length gate drops the record that leaves incomplete.

    Decompressor feeds ramp from ``feed_start`` doubling to
    ``chunk_bytes``, resetting at each member boundary: zlib copies
    everything fed past a member's end into ``unused_data``, so
    whole-chunk feeds cost O(members-per-chunk^2 x member size) on
    Common Crawl's one-record members. The ramp bounds the waste to
    about one member's size, and one yield per member (not per feed)
    keeps the generator overhead of those small members down."""
    # the io protocol permits short reads: accumulate exactly 2 sniff
    # bytes or hit EOF
    head = b""
    while len(head) < 2:
        more = read(2 - len(head))
        if not more:
            break
        head += bytes(more)
    if head != b"\x1f\x8b":
        if head:
            yield head
            while chunk := read(chunk_bytes):
                yield chunk
        return
    d = zlib.decompressobj(wbits=31)
    buf, pos, step = memoryview(head), 0, feed_start
    out = bytearray()
    while True:
        if pos >= len(buf):
            nxt = read(chunk_bytes)
            if not nxt:
                break  # EOF (a mid-member end is a torn tail)
            buf, pos = memoryview(nxt), 0
        end = min(pos + step, len(buf))
        try:
            out += d.decompress(buf[pos:end])
        except zlib.error:
            break  # corrupt from here on: keep what decoded before it
        if d.eof:
            pos = end - len(d.unused_data)
            d = zlib.decompressobj(wbits=31)
            step = feed_start
        else:
            pos = end
            step = min(step * 2, chunk_bytes)
            if len(out) < chunk_bytes:
                continue
        if out:
            yield out
            out = bytearray()
    if out:
        yield out


def _records(
    read, chunk_bytes: int = 4 << 20, max_record_bytes: int | None = None
) -> Iterator[dict]:
    """Response records of one file or byte range: the one gunzip
    generator into one ``_StreamParser``, so a record that spans gzip
    members comes through whole and a non-WARC header ends the range."""
    parser = _StreamParser(max_record_bytes)
    for piece in _stream_gzip_members(read, chunk_bytes):
        yield from parser.feed(piece)
        if parser.dead:
            return


def _slice_reader(blob):
    """``read(n)`` over an in-memory buffer: zero-copy slices of one
    memoryview, so a whole archive held by Arrow decodes like a file."""
    mv = memoryview(blob)
    pos = 0

    def read(n: int):
        nonlocal pos
        piece = mv[pos : pos + n]
        pos += len(piece)
        return piece

    return read


def parse_warc_records(blob) -> Iterator[dict]:
    """Yield {url, warc_ts, payload} for each response record in a
    (possibly multi-member-gzip) WARC byte stream, through the same
    decoder and parser as every reader. Whatever remains incomplete at
    end of stream (torn tail) is dropped, per the Content-Length rule
    in ``_StreamParser``."""
    return _records(_slice_reader(blob))


def _warc_batches(
    read,
    batch_records: int,
    chunk_bytes: int = 4 << 20,
    max_record_bytes: int | None = None,
) -> Iterator[pa.RecordBatch]:
    """``_records`` of one file or byte range in ``batch_records``-sized
    Arrow batches."""
    rows: list[dict] = []
    for rec in _records(read, chunk_bytes, max_record_bytes):
        rows.append(rec)
        if len(rows) >= batch_records:
            yield _warc_batch(rows)
            rows = []
    if rows:
        yield _warc_batch(rows)


def read_warc_stream(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
    chunk_bytes: int = 4 << 20,
    batch_records: int = 512,
    opener=None,
    parallelism: int | None = None,
    max_record_bytes: int | None = None,
) -> DataFrame:
    """Streamed WARC reader for oversized segments: the same rows as
    ``read_warc`` with task memory bounded by
    (chunk_bytes + one in-flight record + one Arrow batch) instead of
    the whole compressed segment — the 10 GB-archive shape
    (``read_warc`` holds each file's compressed bytes whole via the
    binaryFile source, fine for Common Crawl's ~1 GB segments).

    The driver lists the local files under ``path`` and plans one
    whole-file (path, 0, size) range per file; tasks run the byte-range
    kernel of ``read_warc_indexed``. ``opener`` (``path -> binary
    file-like``, default ``open(path, "rb")``) only changes how a listed
    local path is opened: listing and sizing use the local filesystem,
    so it does not make object stores readable. A whole-file range never
    seeks, so the handle needs only ``read`` and ``close``."""
    import os

    files = _list_local(path, glob, "WARC")
    par = parallelism or min(len(files), spark.sparkContext.defaultParallelism)
    return _range_task_df(
        spark,
        [(f, 0, os.path.getsize(f)) for f in files],
        par,
        opener,
        lambda read: _warc_batches(read, batch_records, chunk_bytes, max_record_bytes),
        WARC_SCHEMA,
    )


def build_warc_index(
    path: str,
    chunk_bytes: int = 4 << 20,
    opener=None,
) -> list[int]:
    """One sequential bounded-memory decode pass over a ``.warc.gz``
    recording the byte offset of every gzip member whose decompressed
    payload BEGINS a WARC record (``WARC/`` magic) — the record-aligned
    split points that let byte-range tasks share one oversized archive
    (gzip members are not otherwise splittable). Common Crawl's
    one-record-per-member layout indexes every member; multi-record or
    record-spanning members are skipped automatically, so a split can
    never land mid-record. A torn/corrupt tail simply contributes no
    further split points. Peak memory is one chunk + zlib state."""
    fh = opener(path) if opener is not None else open(path, "rb")
    offsets: list[int] = []
    try:
        offset = 0  # absolute offset of the slice about to be fed
        member_start = 0
        pending = b""
        d = zlib.decompressobj(wbits=31)
        head = b""
        sniff = b""  # accumulate 2 magic bytes — openers may short-read
        while True:
            if pending:
                data, pending = pending, b""
            else:
                data = fh.read(chunk_bytes)
                if not data:
                    break
            if len(sniff) < 2:
                sniff += bytes(data[: 2 - len(sniff)])
                if len(sniff) >= 2 and sniff != b"\x1f\x8b":
                    raise ValueError(
                        f"{path}: not gzip — a plain .warc has no member "
                        "boundaries to index; use read_warc/read_warc_stream"
                    )
            try:
                out = d.decompress(data)
            except zlib.error:
                break  # corrupt from here on: no more split points
            if len(head) < 5:
                head += out[: 5 - len(head)]
            if d.eof:
                consumed = len(data) - len(d.unused_data)
                if head[:5] == b"WARC/":
                    offsets.append(member_start)
                offset += consumed
                member_start = offset
                pending = d.unused_data
                d = zlib.decompressobj(wbits=31)
                head = b""
            else:
                offset += len(data)
    finally:
        fh.close()
    return offsets


def _index_sidecar_path(path: str) -> str:
    import os

    d, base = os.path.split(path)
    # underscore prefix: ignored by spark.read.parquet directory scans,
    # same convention as the IVF _ivf_centroids sidecar
    return os.path.join(d, f"_warcidx_{base}.parquet")


def write_warc_index(path: str, offsets: list[int], index_path: str | None = None) -> str:
    """Persist the member-offset index as a parquet sidecar
    (``_warcidx_<name>.parquet`` next to the archive by default — the
    underscore prefix keeps directory scans from reading it as data).
    The archive's current size is stored for staleness detection."""
    import os

    import pyarrow.parquet as pq

    index_path = index_path or _index_sidecar_path(path)
    st = os.stat(path)
    table = pa.table(
        {"offset": pa.array(offsets, type=pa.int64())},
        metadata={
            b"warc_file_size": str(st.st_size).encode(),
            # size alone misses a same-length in-place rewrite; mtime
            # closes that hole
            b"warc_file_mtime_ns": str(st.st_mtime_ns).encode(),
        },
    )
    pq.write_table(table, index_path)
    return index_path


def load_warc_index(path: str, index_path: str | None = None) -> list[int] | None:
    """Load a previously-written sidecar index, or None when the
    sidecar is absent or STALE (the archive's size or mtime changed —
    e.g. a crawler appended members, or rewrote the file in place at
    the same length, since the index was built; silently using it
    would seek to offsets that are no longer member starts)."""
    import os

    import pyarrow.parquet as pq

    index_path = index_path or _index_sidecar_path(path)
    if not os.path.exists(index_path):
        return None
    table = pq.read_table(index_path)
    meta = table.schema.metadata or {}
    st = os.stat(path)
    recorded = meta.get(b"warc_file_size")
    if recorded is None or int(recorded) != st.st_size:
        return None
    mtime = meta.get(b"warc_file_mtime_ns")
    # same-size in-place rewrites move mtime; indexes written before
    # the mtime field existed (no key) stay usable
    if mtime is not None and int(mtime) != st.st_mtime_ns:
        return None
    return table.column("offset").to_pylist()


def read_warc_indexed(
    spark: SparkSession,
    path: str,
    n_splits: int | None = None,
    index_path: str | None = None,
    save_index: bool = True,
    chunk_bytes: int = 4 << 20,
    batch_records: int = 512,
    opener=None,
    max_record_bytes: int | None = None,
) -> DataFrame:
    """Intra-file parallel WARC reader: ONE oversized ``.warc.gz``
    becomes ``n_splits`` byte-range tasks sharing the file, each
    seeking to a record-aligned gzip-member offset from the sidecar
    index (built on first read, persisted unless ``save_index=False``)
    and streaming its range with the bounded-memory parser — the
    missing shape between ``read_warc_stream`` (bounded memory, but one
    file = one task) and a real 50 GB Common Crawl-style segment.

    Same rows as ``read_warc``; ranges end exactly at the next range's
    record-aligned start, so no record is split or double-read. Each
    range starts its own parser, so a non-WARC header stops only the
    rest of its range. Tasks run the byte-range kernel of
    ``read_warc_stream``. ``opener`` (default ``open(path, "rb")``)
    only changes how the local archive is opened, for the index scan
    and for each range; sizing uses the local filesystem, so it does
    not make object stores readable. Ranges after the first seek, so
    its handle must be seekable."""
    import os

    import numpy as np

    raw = path[7:] if path.startswith("file://") else path
    if os.path.isdir(raw):
        raise ValueError(
            "read_warc_indexed takes ONE archive file (the oversized-"
            "segment shape); use read_warc/read_warc_stream for dirs"
        )
    offsets = load_warc_index(raw, index_path)
    if offsets is None:
        offsets = build_warc_index(raw, chunk_bytes=chunk_bytes, opener=opener)
        if save_index:
            try:
                write_warc_index(raw, offsets, index_path)
            except OSError:
                pass  # read-only source dir: index just isn't cached
    if not offsets:
        raise ValueError(f"{raw}: no record-aligned gzip members to split on")
    size = os.path.getsize(raw)
    par = n_splits or min(len(offsets), spark.sparkContext.defaultParallelism)
    par = max(1, min(par, len(offsets)))
    # contiguous ranges of ~equal COMPRESSED bytes, boundaries snapped
    # to record-aligned member offsets
    offs = np.asarray(offsets, dtype=np.int64)
    targets = [size * (i + 1) / par for i in range(par - 1)]
    cut_idx = np.unique(np.searchsorted(offs, targets))
    cut_idx = cut_idx[(cut_idx > 0) & (cut_idx < len(offs))]
    starts = [int(offs[0])] + [int(offs[i]) for i in cut_idx]
    ends = starts[1:] + [size]
    ranges = [(raw, s, e) for s, e in zip(starts, ends) if e > s]
    return _range_task_df(
        spark,
        ranges,
        len(ranges),
        opener,
        lambda read: _warc_batches(read, batch_records, chunk_bytes, max_record_bytes),
        WARC_SCHEMA,
    )


def _parse_warc_ts(ts: str | None):
    from datetime import datetime, timezone

    if not ts:
        return None
    try:
        return (
            datetime.fromisoformat(ts.replace("Z", "+00:00"))
            .astimezone(timezone.utc)
            .replace(tzinfo=None)
        )
    except ValueError:
        return None


def _warc_batch(rows: list[dict]) -> pa.RecordBatch:
    bodies = [_strip_http(r["payload"]) for r in rows]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r["url"] for r in rows], type=pa.string()),
            pa.array(
                [_parse_warc_ts(r["warc_ts"]) for r in rows],
                type=pa.timestamp("us"),
            ),
            pa.array(bodies, type=pa.binary()),
            pa.array([extract_text(b) for b in bodies], type=pa.string()),
        ],
        names=["url", "warc_ts", "html", "text"],
    )


def _warc_blob_kernel(batch_records: int):
    """mapInArrow kernel over a (content binary) column of whole WARC
    archives — module-level so the null-content guard is unit-testable."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column(0)
            for i in range(len(col)):
                if not col[i].is_valid:
                    continue  # null content: as_buffer() would be None
                # zero-copy view over the Arrow buffer — no second
                # whole-file bytes copy into Python per task
                read = _slice_reader(col[i].as_buffer())
                yield from _warc_batches(read, batch_records)

    return kernel


def read_warc(
    spark: SparkSession, path: str, glob: str = "*.warc*", batch_records: int = 512
) -> DataFrame:
    """(url, warc_ts, html, text) — one row per WARC response record
    across every matching archive file. Each file decodes through the
    same gunzip generator and record parser as ``read_warc_stream``:
    a record that spans gzip members comes through whole, and a
    non-WARC header stops the rest of that file (no resync guessing).
    Records are decoded member by member and emitted in
    ``batch_records``-sized Arrow batches, so a multi-GB segment never
    materializes decompressed-whole plus a full row copy in one task
    (the compressed blob itself is held by the binaryFile source, which
    reads any Hadoop filesystem; cap concurrent tasks for very large
    segments)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    return files.mapInArrow(_warc_blob_kernel(batch_records), WARC_SCHEMA)


def write_warc_file(
    records: list[tuple[str, str, bytes]], path: str, gzip_members: bool = True
) -> None:
    """Fixture producer: (url, iso_ts, html_body) triples as WARC/1.0
    response records with an HTTP envelope, one gzip member per record
    when ``gzip_members`` (the Common-Crawl layout)."""
    import gzip as _gzip

    out = bytearray()
    for url, ts, body in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
        )
        hdr = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: " + url.encode() + b"\r\n"
            + b"WARC-Date: " + ts.encode() + b"\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        )
        rec = hdr + http + b"\r\n\r\n"
        out.extend(_gzip.compress(rec, mtime=0) if gzip_members else rec)
    with open(path, "wb") as f:
        f.write(bytes(out))
