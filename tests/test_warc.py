"""WARC source tests — Common-Crawl's native format to (url, warc_ts,
html, text) rows, including the BASELINE invariant: byte-identical
extracted text per url."""

import os

import pytest
from pyspark.sql import functions as F

from heavykeeper_rs_spark.sources.warc import (
    extract_text,
    parse_warc_records,
    read_warc,
    write_warc_file,
)


def _mk(url, ts, body):
    return (url, ts, body)


class TestWarcSource:
    def test_roundtrip_gzip_and_plain(self, spark, tmp_path):
        recs = [
            _mk("https://a.test/1", "2025-01-02T03:04:05Z",
                b"<html><body>alpha text</body></html>"),
            _mk("https://b.test/2", "2025-02-03T04:05:06Z",
                b"<html><body>beta text</body></html>"),
        ]
        write_warc_file(recs, str(tmp_path / "s0.warc.gz"), gzip_members=True)
        write_warc_file(recs, str(tmp_path / "s1.warc"), gzip_members=False)
        rows = read_warc(spark, str(tmp_path)).collect()
        assert len(rows) == 4
        by_url = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append(r)
        assert set(by_url) == {"https://a.test/1", "https://b.test/2"}
        r = by_url["https://a.test/1"][0]
        assert bytes(r["html"]) == recs[0][2]
        assert r["text"] == "alpha text"
        assert str(r["warc_ts"]) == "2025-01-02 03:04:05"

    def test_non_response_records_skipped(self, spark, tmp_path):
        body = b"<html><body>x</body></html>"
        http = (b"HTTP/1.1 200 OK\r\n\r\n" + body)
        req = (
            b"WARC/1.0\r\nWARC-Type: request\r\n"
            b"WARC-Target-URI: https://a.test/req\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + b"Content-Length: 4\r\n\r\nGET \r\n\r\n"
        )
        resp = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://a.test/ok\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        (tmp_path / "m.warc").write_bytes(req + resp)
        rows = read_warc(spark, str(tmp_path)).collect()
        assert [r["url"] for r in rows] == ["https://a.test/ok"]
        assert bytes(rows[0]["html"]) == body

    def test_truncated_tail_does_not_kill_parse(self):
        recs = [_mk("https://a.test/1", "2025-01-01T00:00:00Z",
                    b"<html><body>keep</body></html>")]
        import io

        buf = io.BytesIO()
        http = b"HTTP/1.1 200 OK\r\n\r\n" + recs[0][2]
        whole = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://a.test/1\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        # whole record + garbage tail
        got = list(parse_warc_records(whole + b"WARC/1.0\r\nWARC-Type: res"))
        assert len(got) == 1 and got[0]["url"] == "https://a.test/1"

    def test_extract_text_tag_strip(self):
        html = (b"<html><head><script>var x=1;</script>"
                b"<style>p{color:red}</style></head>"
                b"<body><p>Real</p>\n<div>page</div></body></html>")
        assert extract_text(html) == "Real page"

    def test_byte_identical_text_per_url_vs_corpus(self, spark, tmp_path):
        """The BASELINE per-row invariant: writing a webtext corpus's
        html through WARC and reading it back must reproduce the
        extracted text byte-identically per url."""
        from heavykeeper_rs_spark.sources.synth import webtext

        docs = webtext(spark, 200).select(
            F.concat(F.lit("https://synth.test/"), F.col("doc_id")).alias("url"),
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts"),
            "html",
            "text",
        ).collect()
        recs = [(r["url"], r["ts"], bytes(r["html"])) for r in docs]
        half = len(recs) // 2
        write_warc_file(recs[:half], str(tmp_path / "p0.warc.gz"))
        write_warc_file(recs[half:], str(tmp_path / "p1.warc.gz"))
        got = {
            r["url"]: r["text"] for r in read_warc(spark, str(tmp_path)).collect()
        }
        want = {r["url"]: r["text"] for r in docs}
        assert got == want  # byte-identical extracted text per url

    def test_feeds_token_topk(self, spark, tmp_path):
        """WARC -> text -> token top-K: the flagship query over the
        native archive format."""
        from heavykeeper_rs_spark.operators.topk import topk_tokens

        recs = [
            _mk(f"https://t.test/{i}", "2025-01-01T00:00:00Z",
                b"<html><body>spark warc spark</body></html>")
            for i in range(20)
        ]
        write_warc_file(recs, str(tmp_path / "w.warc.gz"))
        df = read_warc(spark, str(tmp_path))
        top = topk_tokens(df, "text", k=2, width=256, depth=4).collect()
        assert top[0]["item"] == "spark" and top[0]["count"] == 40


def test_payload_containing_fake_record_header():
    """Content-Length is authoritative: a payload that CONTAINS
    'WARC/1.0' + CRLFCRLF sequences must not desynchronize the
    parser."""
    evil_body = b"<html><body>\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nfake</body></html>"
    http = b"HTTP/1.1 200 OK\r\n\r\n" + evil_body
    rec1 = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a.test/evil\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )
    body2 = b"<html><body>after</body></html>"
    http2 = b"HTTP/1.1 200 OK\r\n\r\n" + body2
    rec2 = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a.test/after\r\n"
        b"WARC-Date: 2025-01-01T00:00:01Z\r\n"
        + b"Content-Length: " + str(len(http2)).encode() + b"\r\n\r\n"
        + http2 + b"\r\n\r\n"
    )
    got = list(parse_warc_records(rec1 + rec2))
    assert [g["url"] for g in got] == ["https://a.test/evil", "https://a.test/after"]
    from heavykeeper_rs_spark.sources.warc import _strip_http

    assert _strip_http(got[0]["payload"]) == evil_body


def test_truncated_gzip_member_skips_tail_not_task(spark, tmp_path):
    """A torn final gzip member costs its own records only: the intact
    leading members still decode, and the Spark job never dies."""
    recs = [
        _mk(f"https://g.test/{i}", "2025-01-01T00:00:00Z",
            b"<html><body>ok</body></html>")
        for i in range(3)
    ]
    p = tmp_path / "torn.warc.gz"
    write_warc_file(recs, str(p))
    blob = p.read_bytes()
    # append a truncated gzip member (torn write)
    import gzip

    extra = gzip.compress(b"WARC/1.0\r\n...", mtime=0)
    p.write_bytes(blob + extra[: len(extra) // 2])
    rows = read_warc(spark, str(tmp_path)).collect()
    assert sorted(r["url"] for r in rows) == [f"https://g.test/{i}" for i in range(3)]


def test_mid_payload_truncation_drops_record():
    """The reviewer repro: a member cut inside the PAYLOAD decompresses
    partially with no zlib error — Content-Length must be authoritative
    so the damaged record is dropped, never emitted short-sliced."""
    import gzip

    body = b"<html><body>" + b"x" * 2000 + b"</body></html>"
    http = b"HTTP/1.1 200 OK\r\n\r\n" + body
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/1\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )
    member = gzip.compress(rec, mtime=0)
    torn = member[: int(len(member) * 0.6)]
    import io

    from heavykeeper_rs_spark.sources.warc import _stream_gzip_members

    partial = b"".join(_stream_gzip_members(io.BytesIO(torn).read))
    assert 0 < len(partial) < len(rec)  # decompression is silently partial
    assert list(parse_warc_records(torn)) == []  # record dropped, no short slice
    # plain (uncompressed) torn stream: same drop
    assert list(parse_warc_records(rec[: len(rec) // 2])) == []
    # an intact record BEFORE the torn one still comes through
    good_body = b"<html><body>ok</body></html>"
    good_http = b"HTTP/1.1 200 OK\r\n\r\n" + good_body
    good = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t/0\r\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + b"Content-Length: " + str(len(good_http)).encode() + b"\r\n\r\n"
        + good_http + b"\r\n\r\n"
    )
    got = list(parse_warc_records(good + rec[: len(rec) // 2]))
    assert [g["url"] for g in got] == ["https://t/0"]


class TestStreamedReader:
    """read_warc_stream: bounded-memory path for oversized segments."""

    def _write_corpus(self, tmp_path, n=60):
        recs = [
            _mk(
                f"https://s.test/{i}",
                "2025-05-06T07:08:09Z",
                b"<html><body>doc %d body words here</body></html>" % i,
            )
            for i in range(n)
        ]
        write_warc_file(recs[: n // 3], str(tmp_path / "a.warc.gz"))
        write_warc_file(recs[n // 3 : 2 * n // 3], str(tmp_path / "b.warc.gz"))
        # one uncompressed shard exercises the plain-stream path
        write_warc_file(
            recs[2 * n // 3 :], str(tmp_path / "c.warc"), gzip_members=False
        )
        return recs

    def test_matches_batch_reader(self, spark, tmp_path):
        from heavykeeper_rs_spark.sources.warc import read_warc_stream

        self._write_corpus(tmp_path)
        batch = sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
            for r in read_warc(spark, str(tmp_path)).collect()
        )
        # tiny chunks force every incremental code path (header split
        # across chunks, payload split, member boundary mid-chunk)
        streamed = sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
            for r in read_warc_stream(
                spark, str(tmp_path), chunk_bytes=1024, batch_records=7
            ).collect()
        )
        assert streamed == batch and len(batch) == 60

    def test_torn_tail_drops_only_damaged_records(self, spark, tmp_path):
        import zlib

        from heavykeeper_rs_spark.sources.warc import read_warc_stream

        recs = [
            _mk(f"https://t/{i}", "2025-01-01T00:00:00Z",
                b"<html><body>" + bytes(str(i), "ascii") * 50 + b"</body></html>")
            for i in range(10)
        ]
        write_warc_file(recs, str(tmp_path / "whole.warc.gz"))
        blob = (tmp_path / "whole.warc.gz").read_bytes()
        # rebuild: members 0..8 intact + 60% of member 9 (torn tail)
        parts = []
        pos = 0
        for i in range(10):
            d = zlib.decompressobj(wbits=31)
            d.decompress(blob[pos:])
            consumed = len(blob) - pos - len(d.unused_data)
            parts.append(blob[pos : pos + consumed])
            pos += consumed
        torn = b"".join(parts[:9]) + parts[9][: int(len(parts[9]) * 0.6)]
        (tmp_path / "whole.warc.gz").write_bytes(torn)
        rows = read_warc_stream(spark, str(tmp_path), chunk_bytes=512).collect()
        assert sorted(r["url"] for r in rows) == sorted(
            f"https://t/{i}" for i in range(9)
        )

    def test_bounded_buffering_at_scale(self):
        """The memory invariant itself: streaming a ~50 MB decompressed
        archive through the incremental gunzip + parser never buffers
        more than ~(one record + one chunk), independent of archive
        size — the property that makes 10 GB segments safe."""
        import gzip
        import io

        from heavykeeper_rs_spark.sources.warc import (
            _StreamParser,
            _stream_gzip_members,
        )

        n, body_len = 5000, 8 * 1024
        chunk = 64 * 1024
        buf = io.BytesIO()
        body = b"<html><body>" + b"w" * body_len + b"</body></html>"
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://big/x\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        member = gzip.compress(rec, mtime=0)
        for _ in range(n):
            buf.write(member)
        buf.seek(0)
        parser = _StreamParser()
        got = 0
        peak = 0
        for chunk_bytes in _stream_gzip_members(buf.read, chunk):
            for _rec in parser.feed(chunk_bytes):
                got += 1
            peak = max(peak, parser.buffered())
        assert got == n
        # bound: one in-flight record + one decompressed chunk + slack
        assert peak < len(rec) + chunk + 4096


def test_flow_trace_stream_matches_batch(spark, tmp_path):
    """Streamed trace reader: chunk size deliberately NOT a multiple of
    the record width, so the range kernel's reads must floor it to a
    record multiple; the torn tail is dropped as by the batch reader."""
    import numpy as np

    from heavykeeper_rs_spark.sources.trace import (
        read_flow_trace,
        read_flow_trace_stream,
        write_flow_trace,
    )

    rng = np.random.default_rng(7)
    keys = [bytes(rng.integers(0, 256, 13, dtype=np.uint8)) for _ in range(5000)]
    write_flow_trace(keys[:3000], str(tmp_path / "p0.dat"))
    write_flow_trace(keys[3000:], str(tmp_path / "p1.dat"))
    # torn tail: 7 stray bytes after the last record of p1
    with open(tmp_path / "p1.dat", "ab") as f:
        f.write(b"\x01" * 7)
    batch = sorted(bytes(r["flow_key"]) for r in read_flow_trace(spark, str(tmp_path)).collect())
    streamed = sorted(
        bytes(r["flow_key"])
        for r in read_flow_trace_stream(
            spark, str(tmp_path), chunk_bytes=1000
        ).collect()
    )
    assert streamed == batch and len(batch) == 5000


def test_flow_trace_split_matches_batch(spark, tmp_path):
    """Intra-file parallel trace reader: ONE file becomes many
    byte-range tasks; rows match the batch reader as a multiset and
    the plan really fans out past one task."""
    import numpy as np

    from heavykeeper_rs_spark.sources.trace import (
        read_flow_trace,
        read_flow_trace_split,
        write_flow_trace,
    )

    rng = np.random.default_rng(11)
    keys = [bytes(rng.integers(0, 256, 13, dtype=np.uint8)) for _ in range(9000)]
    write_flow_trace(keys, str(tmp_path / "big.dat"))
    # torn tail: 5 stray bytes → dropped by both readers
    with open(tmp_path / "big.dat", "ab") as f:
        f.write(b"\x02" * 5)
    # split_bytes NOT a multiple of 13 → recs_per_split floors;
    # chunk_bytes NOT a multiple of 13 → chunk alignment floors too
    df = read_flow_trace_split(
        spark, str(tmp_path), split_bytes=20_000, chunk_bytes=1000
    )
    assert df.rdd.getNumPartitions() > 1  # one file, many tasks
    split_rows = sorted(bytes(r["flow_key"]) for r in df.collect())
    batch_rows = sorted(
        bytes(r["flow_key"]) for r in read_flow_trace(spark, str(tmp_path)).collect()
    )
    assert split_rows == batch_rows and len(batch_rows) == 9000


def test_flow_trace_split_empty_and_tiny_files(spark, tmp_path):
    from heavykeeper_rs_spark.sources.trace import read_flow_trace_split

    (tmp_path / "empty.dat").write_bytes(b"")
    (tmp_path / "subrecord.dat").write_bytes(b"\x00" * 12)  # < one record
    df = read_flow_trace_split(spark, str(tmp_path))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["flow_key"]


class TestStreamRobustness:
    """Round-5 self-review fixes: short-reading openers, non-WARC
    bounded buffering."""

    def test_short_reading_opener_still_decodes_gzip(self):
        """The io protocol permits read(n) to return fewer bytes; the
        gzip sniff must still see 2 magic bytes (an object-store
        opener shape)."""
        import gzip
        import io

        from heavykeeper_rs_spark.sources.warc import (
            _StreamParser,
            _stream_gzip_members,
        )

        body = b"<html><body>short reads</body></html>"
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://t/0\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        blob = gzip.compress(rec, mtime=0) * 3

        class OneByteReader:
            def __init__(self, b):
                self._f = io.BytesIO(b)

            def read(self, n):
                return self._f.read(min(n, 1))  # pathological short reads

        parser = _StreamParser()
        got = []
        for chunk in _stream_gzip_members(OneByteReader(blob).read, 4096):
            got.extend(parser.feed(chunk))
        assert [r["url"] for r in got] == ["https://t/0"] * 3

    def test_non_warc_binary_keeps_buffer_bounded(self):
        """A large non-gzip, non-WARC file (e.g. .warc.zst matched by
        the glob) must not buffer unboundedly: the parser goes dead at
        the header-size guard and yields nothing."""
        from heavykeeper_rs_spark.sources.warc import _StreamParser

        parser = _StreamParser()
        junk = bytes(range(256)) * 64  # 16 KiB chunk, no CRLFCRLF
        total = 0
        for _ in range(200):  # ~3 MiB total
            assert list(parser.feed(junk)) == []
            total += len(junk)
            assert parser.buffered() <= _StreamParser.MAX_HEADER_BYTES + len(junk)
        assert parser.dead
        assert parser.buffered() == 0


class TestRound6AdviceFixes:
    """Regression tests for the round-5 review findings."""

    def test_null_content_row_is_skipped(self, spark, tmp_path):
        """A null binary `content` value must be skipped, not crash the
        task (pa scalar .as_buffer() returns None for nulls)."""
        from heavykeeper_rs_spark.sources.trace import _KEY_SCHEMA, _trace_blob_kernel
        from heavykeeper_rs_spark.sources.warc import WARC_SCHEMA, _warc_blob_kernel

        body = b"<html><body>live</body></html>"
        http = b"HTTP/1.1 200 OK\r\n\r\n" + body
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://n.test/1\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n"
        )
        df = spark.createDataFrame(
            [(None,), (rec,), (None,)], "content binary"
        ).coalesce(1)
        rows = df.mapInArrow(_warc_blob_kernel(512), WARC_SCHEMA).collect()
        assert [r["url"] for r in rows] == ["https://n.test/1"]

        tdf = spark.createDataFrame(
            [(None,), (b"A" * 13 * 3 + b"xx",)], "content binary"
        ).coalesce(1)
        keys = tdf.mapInArrow(_trace_blob_kernel(13), _KEY_SCHEMA).collect()
        assert len(keys) == 3  # 3 whole records, trailing partial dropped

    def test_hostile_content_length_keeps_buffer_bounded(self):
        """A corrupt/hostile Content-Length (2^60) must kill the stream
        at the record gate, not buffer the rest of the file waiting for
        a payload that never completes."""
        from heavykeeper_rs_spark.sources.warc import _StreamParser

        evil = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://evil/1\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            b"Content-Length: " + str(1 << 60).encode() + b"\r\n\r\n"
        )
        parser = _StreamParser()
        assert list(parser.feed(evil)) == []
        assert parser.dead
        for _ in range(50):  # further chunks are dropped, not buffered
            assert list(parser.feed(b"x" * 65536)) == []
        assert parser.buffered() == 0
        # negative lengths die the same way
        p2 = _StreamParser()
        assert list(p2.feed(evil.replace(str(1 << 60).encode(), b"-5"))) == []
        assert p2.dead
        # a configurable cap binds tighter
        p3 = _StreamParser(max_record_bytes=100)
        big = evil.replace(str(1 << 60).encode(), b"101")
        assert list(p3.feed(big)) == []
        assert p3.dead

    def test_batch_torn_multirecord_member_salvages_leading_records(
        self, spark, tmp_path
    ):
        """Non-Common-Crawl layout: several records inside ONE gzip
        member, torn mid-payload of the last. The batch reader must
        emit the intact leading records (and agree with the streamed
        reader), dropping only the truly torn one."""
        import gzip

        from heavykeeper_rs_spark.sources.warc import read_warc_stream

        def rec(i, pad):
            body = b"<html><body>doc " + str(i).encode() + b" " + pad + b"</body></html>"
            http = b"HTTP/1.1 200 OK\r\n\r\n" + body
            return (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: https://m.test/" + str(i).encode() + b"\r\n"
                b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
                + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
                + http + b"\r\n\r\n"
            )
        stream = b"".join(rec(i, b"y" * 400) for i in range(5))
        member = gzip.compress(stream, mtime=0)
        # cut inside the compressed member so decompression is partial:
        # drop the last ~15% (the 5th record's payload region)
        torn = member[: int(len(member) * 0.85)]
        (tmp_path / "multi.warc.gz").write_bytes(torn)
        batch_urls = sorted(
            r["url"] for r in read_warc(spark, str(tmp_path)).collect()
        )
        stream_urls = sorted(
            r["url"]
            for r in read_warc_stream(spark, str(tmp_path), chunk_bytes=256).collect()
        )
        assert batch_urls == stream_urls
        assert 1 <= len(batch_urls) <= 4  # leading records salvaged, tear dropped
        assert "https://m.test/0" in batch_urls


class TestIndexedReader:
    """read_warc_indexed: byte-range splitting of ONE oversized archive
    via the record-aligned gzip-member sidecar index."""

    def _archive(self, tmp_path, n=120, name="big.warc.gz"):
        recs = [
            _mk(
                f"https://idx.test/{i}",
                "2025-06-07T08:09:10Z",
                b"<html><body>doc %d " % i + b"w" * (50 + i % 97) + b"</body></html>",
            )
            for i in range(n)
        ]
        p = tmp_path / name
        write_warc_file(recs, str(p))
        return p, recs

    def test_index_offsets_are_member_starts(self, tmp_path):
        from heavykeeper_rs_spark.sources.warc import build_warc_index

        p, recs = self._archive(tmp_path)
        offsets = build_warc_index(str(p))
        assert len(offsets) == len(recs) and offsets[0] == 0
        blob = p.read_bytes()
        for o in offsets:
            assert blob[o : o + 2] == b"\x1f\x8b"  # every offset a member start
        assert offsets == sorted(offsets)

    def test_ranged_read_matches_batch_and_splits(self, spark, tmp_path):
        from heavykeeper_rs_spark.sources.warc import read_warc_indexed

        p, recs = self._archive(tmp_path)
        batch = sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
            for r in read_warc(spark, str(tmp_path), glob="big.warc.gz").collect()
        )
        df = read_warc_indexed(spark, str(p), n_splits=5, chunk_bytes=4096)
        assert df.rdd.getNumPartitions() > 1  # genuinely intra-file parallel
        ranged = sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
            for r in df.collect()
        )
        assert ranged == batch and len(batch) == len(recs)
        # sidecar was persisted and is reused (no rebuild)
        from heavykeeper_rs_spark.sources.warc import load_warc_index

        assert load_warc_index(str(p)) is not None
        again = sorted(
            (r["url"],)
            for r in read_warc_indexed(spark, str(p), n_splits=3).collect()
        )
        assert len(again) == len(recs)

    def test_stale_sidecar_is_rebuilt(self, spark, tmp_path):
        from heavykeeper_rs_spark.sources.warc import (
            build_warc_index,
            load_warc_index,
            read_warc_indexed,
            write_warc_index,
        )

        p, recs = self._archive(tmp_path, n=30)
        write_warc_index(str(p), build_warc_index(str(p)))
        # crawler appends more members after the index was built
        extra = [
            _mk(f"https://idx.test/late{i}", "2025-06-08T00:00:00Z",
                b"<html><body>late</body></html>")
            for i in range(5)
        ]
        import gzip as _gzip

        more_path = tmp_path / "more.warc.gz"
        write_warc_file(extra, str(more_path))
        with open(p, "ab") as f:
            f.write(more_path.read_bytes())
        assert load_warc_index(str(p)) is None  # stale: size changed
        rows = read_warc_indexed(spark, str(p), n_splits=4).collect()
        assert len(rows) == len(recs) + 5  # rebuilt index covers the tail

    def test_same_size_rewrite_invalidates_index(self, tmp_path):
        """Size alone misses an in-place rewrite that lands on the same
        byte length; the sidecar's mtime field catches it."""
        import os

        from heavykeeper_rs_spark.sources.warc import (
            build_warc_index,
            load_warc_index,
            write_warc_index,
        )

        p, _ = self._archive(tmp_path, n=20)
        write_warc_index(str(p), build_warc_index(str(p)))
        assert load_warc_index(str(p)) is not None
        p.write_bytes(p.read_bytes())  # same size, rewritten in place
        os.utime(p, ns=(1_000_000_000, 9_876_543_210_000_000))
        assert load_warc_index(str(p)) is None  # stale: mtime moved

    def test_build_index_with_short_reading_opener(self, tmp_path):
        """A stream whose first read returns 1 byte (object-store
        openers short-read) must still classify the archive as gzip."""
        from heavykeeper_rs_spark.sources.warc import build_warc_index

        p, _ = self._archive(tmp_path, n=12)
        direct = build_warc_index(str(p))

        class Short:
            def __init__(self, fh):
                self.fh, self.first = fh, True

            def read(self, n=-1):
                if self.first:
                    self.first = False
                    return self.fh.read(1)
                return self.fh.read(n)

            def close(self):
                self.fh.close()

        got = build_warc_index(str(p), opener=lambda pp: Short(open(pp, "rb")))
        assert got == direct and len(got) == 12

    def test_multirecord_and_spanning_members_split_safely(self, spark, tmp_path):
        """Members holding several records index normally; a member that
        starts MID-record is never a split point, so a record spanning
        members can't be cut."""
        import gzip as _gzip

        from heavykeeper_rs_spark.sources.warc import (
            build_warc_index,
            read_warc_indexed,
        )

        def rec(i):
            body = b"<html><body>m %d </body></html>" % i
            http = b"HTTP/1.1 200 OK\r\n\r\n" + body
            return (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: https://mm.test/" + str(i).encode() + b"\r\n"
                b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
                + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
                + http + b"\r\n\r\n"
            )
        # member 0: records 0-2 whole; record 3 SPLIT across members 1-2;
        # member 3: records 4-5
        r3 = rec(3)
        parts = [
            b"".join(rec(i) for i in range(3)),
            r3[: len(r3) // 2],
            r3[len(r3) // 2 :],
            rec(4) + rec(5),
        ]
        p = tmp_path / "span.warc.gz"
        p.write_bytes(b"".join(_gzip.compress(x, mtime=0) for x in parts))
        offsets = build_warc_index(str(p))
        assert len(offsets) == 3  # member 2 (mid-record) skipped
        rows = read_warc_indexed(
            spark, str(p), n_splits=3, save_index=False
        ).collect()
        assert sorted(r["url"] for r in rows) == [
            f"https://mm.test/{i}" for i in range(6)
        ]

    @pytest.mark.slow
    def test_multi_hundred_mb_archive_splits(self, spark, tmp_path):
        """The oversized-segment rehearsal: one ~250 MB (compressed)
        archive of incompressible bodies read with >1 byte-range task;
        indexed rows == streamed rows, bounded memory throughout."""
        import gzip as _gzip

        import numpy as np

        from heavykeeper_rs_spark.sources.warc import (
            build_warc_index,
            read_warc_indexed,
            read_warc_stream,
        )

        rng = np.random.default_rng(7)
        p = tmp_path / "huge.warc.gz"
        n = 2000
        with open(p, "wb") as f:
            for i in range(n):
                body = (
                    b"<html><body>"
                    + rng.integers(33, 127, 128 * 1024, dtype=np.uint8)
                    .astype(np.uint8).tobytes()
                    + b"</body></html>"
                )
                http = b"HTTP/1.1 200 OK\r\n\r\n" + body
                rec = (
                    b"WARC/1.0\r\nWARC-Type: response\r\n"
                    b"WARC-Target-URI: https://huge.test/" + str(i).encode() + b"\r\n"
                    b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
                    + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
                    + http + b"\r\n\r\n"
                )
                f.write(_gzip.compress(rec, mtime=0, compresslevel=1))
        assert p.stat().st_size > 200 << 20
        offsets = build_warc_index(str(p))
        assert len(offsets) == n
        df = read_warc_indexed(spark, str(p), n_splits=8, save_index=False)
        assert df.rdd.getNumPartitions() == 8
        idx_counts = (
            df.groupBy().count().collect()[0][0],
            df.select(F.length("html").cast("long").alias("l"))
            .groupBy().sum("l").collect()[0][0],
        )
        st = read_warc_stream(spark, str(tmp_path), glob="huge.warc.gz")
        st_counts = (
            st.groupBy().count().collect()[0][0],
            st.select(F.length("html").cast("long").alias("l"))
            .groupBy().sum("l").collect()[0][0],
        )
        assert idx_counts == st_counts == (n, n * (128 * 1024 + 26))


class TestWorklistPlacement:
    """Round-7 ADVICE: the literal-array work-list plan is O(N) per
    row; large lists must take the createDataFrame+repartitionByRange
    route. Both routes must produce identical row sets."""

    def test_large_worklist_route_matches_literal(self, spark):
        from heavykeeper_rs_spark.sources.warc import (
            _LITERAL_WORKLIST_MAX,
            _rows_per_task_df,
        )

        n = _LITERAL_WORKLIST_MAX + 5
        cols = {
            "path": [f"/data/f{i}.gz" for i in range(n)],
            "off": list(range(n)),
        }
        big = _rows_per_task_df(spark, cols, par=8)
        assert "_wl_id" not in big.columns
        got = sorted((r["path"], r["off"]) for r in big.collect())
        assert got == sorted(zip(cols["path"], cols["off"]))
        # spread over the requested parallelism, not collapsed
        assert big.rdd.getNumPartitions() == 8
        small = _rows_per_task_df(
            spark, {k: v[:6] for k, v in cols.items()}, par=8
        )
        assert sorted((r["path"], r["off"]) for r in small.collect()) == sorted(
            zip(cols["path"][:6], cols["off"][:6])
        )
        assert small.rdd.getNumPartitions() == 6


def _warc_record(url: str, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\n\r\n" + body
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        + b"WARC-Target-URI: " + url.encode() + b"\r\n"
        + b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
        + b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )


class TestOneDecoder:
    """Every WARC reader decodes a file or byte range through one gunzip
    generator into one record parser, so they agree on layouts beyond
    Common Crawl's one record per member."""

    @staticmethod
    def _urls(df):
        return sorted(r["url"] for r in df.collect())

    def test_record_spanning_members_reaches_every_reader(self, spark, tmp_path):
        """Record 3 is split across two gzip members; the binaryFile
        reader must return it, as the path readers do."""
        import gzip

        from heavykeeper_rs_spark.sources.warc import (
            read_warc_indexed,
            read_warc_stream,
        )

        recs = [
            _warc_record(f"https://sp.test/{i}", b"<html><body>s %d</body></html>" % i)
            for i in range(6)
        ]
        r3 = recs[3]
        members = [
            b"".join(recs[:3]),
            r3[: len(r3) // 2],
            r3[len(r3) // 2 :],
            recs[4] + recs[5],
        ]
        p = tmp_path / "span.warc.gz"
        p.write_bytes(b"".join(gzip.compress(m, mtime=0) for m in members))
        want = [f"https://sp.test/{i}" for i in range(6)]
        assert self._urls(read_warc(spark, str(tmp_path))) == want
        assert self._urls(read_warc_stream(spark, str(tmp_path), chunk_bytes=256)) == want
        indexed = read_warc_indexed(spark, str(p), n_splits=3, save_index=False)
        assert self._urls(indexed) == want

    def test_non_warc_member_stops_the_file_in_every_reader(self, spark, tmp_path):
        """A valid gzip member of non-WARC bytes between two good
        members ends the file's parse in every reader (no resync
        guessing). The indexed reader's split points are record-aligned
        member starts, so with two ranges the second range's record
        still comes through."""
        import gzip

        from heavykeeper_rs_spark.sources.warc import (
            build_warc_index,
            read_warc_indexed,
            read_warc_stream,
        )

        good = [
            _warc_record(f"https://nw.test/{i}", b"<html><body>g</body></html>")
            for i in range(2)
        ]
        junk = b"this is not a WARC header\r\n\r\n" + b"x" * 100
        p = tmp_path / "junk.warc.gz"
        p.write_bytes(
            b"".join(gzip.compress(m, mtime=0) for m in (good[0], junk, good[1]))
        )
        want = ["https://nw.test/0"]
        assert self._urls(read_warc(spark, str(tmp_path))) == want
        assert self._urls(read_warc_stream(spark, str(tmp_path))) == want
        one = read_warc_indexed(spark, str(p), n_splits=1, save_index=False)
        assert self._urls(one) == want
        assert len(build_warc_index(str(p))) == 2  # the junk member is skipped
        two = read_warc_indexed(spark, str(p), n_splits=2, save_index=False)
        assert self._urls(two) == ["https://nw.test/0", "https://nw.test/1"]

    def test_non_seekable_opener_serves_whole_file_readers(self, spark, tmp_path):
        """Whole-file ranges never seek: a handle with only ``read`` and
        ``close`` serves both streamed readers, with the batch readers'
        rows."""
        import numpy as np

        from heavykeeper_rs_spark.sources.trace import (
            read_flow_trace,
            read_flow_trace_stream,
            write_flow_trace,
        )
        from heavykeeper_rs_spark.sources.warc import read_warc_stream

        class ReadOnly:
            def __init__(self, path):
                self._fh = open(path, "rb")

            def read(self, n):
                return self._fh.read(n)

            def close(self):
                self._fh.close()

        recs = [
            (f"https://ro.test/{i}", "2025-01-01T00:00:00Z",
             b"<html><body>ro %d</body></html>" % i)
            for i in range(12)
        ]
        wdir = tmp_path / "warc"
        wdir.mkdir()
        write_warc_file(recs[:7], str(wdir / "a.warc.gz"))
        write_warc_file(recs[7:], str(wdir / "b.warc"), gzip_members=False)

        def rows(df):
            return sorted(
                (r["url"], r["warc_ts"], bytes(r["html"]), r["text"])
                for r in df.collect()
            )

        batch = rows(read_warc(spark, str(wdir)))
        streamed = rows(read_warc_stream(spark, str(wdir), chunk_bytes=64, opener=ReadOnly))
        assert streamed == batch and len(batch) == 12

        tdir = tmp_path / "trace"
        tdir.mkdir()
        rng = np.random.default_rng(3)
        keys = [bytes(rng.integers(0, 256, 13, dtype=np.uint8)) for _ in range(700)]
        write_flow_trace(keys[:400], str(tdir / "p0.dat"))
        write_flow_trace(keys[400:], str(tdir / "p1.dat"))
        with open(tdir / "p1.dat", "ab") as f:
            f.write(b"\x03" * 4)  # torn tail
        t_batch = sorted(bytes(r["flow_key"]) for r in read_flow_trace(spark, str(tdir)).collect())
        t_stream = sorted(
            bytes(r["flow_key"])
            for r in read_flow_trace_stream(
                spark, str(tdir), chunk_bytes=100, opener=ReadOnly
            ).collect()
        )
        assert t_stream == t_batch and len(t_batch) == 700
