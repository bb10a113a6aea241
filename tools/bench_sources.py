"""Streamed-vs-batch source throughput (the BENCH.md round-5
"Streamed vs batch sources" measurement, now reproducible).

Builds the same-shaped fixtures — sharded per-record-gzip WARC
(default 48k records x ~8 KB) and 13-byte flow-trace shards (default
27.5M keys) — in a temp dir, then times each reader end-to-end
(collect-side row counting via groupBy().count()) on
local[$SPARK_GRAFT_CPUS], or one thread per usable core when that is
unset. Each line gives the median rate of 5 reps and its min–max.

Usage: python tools/bench_sources.py [n_warc_records] [n_trace_keys]
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from heavykeeper_rs_spark.session import get_spark  # noqa: E402
from heavykeeper_rs_spark.sources.trace import (  # noqa: E402
    read_flow_trace,
    read_flow_trace_stream,
)
from heavykeeper_rs_spark.sources.warc import (  # noqa: E402
    read_warc,
    read_warc_stream,
    write_warc_file,
)

N_WARC = int(sys.argv[1]) if len(sys.argv) > 1 else 48_000
N_TRACE = int(sys.argv[2]) if len(sys.argv) > 2 else 27_500_000
SHARDS = 8


def build_warc(d: str) -> None:
    rng = np.random.default_rng(11)
    for s in range(SHARDS):
        recs = []
        for i in range(s, N_WARC, SHARDS):
            body = (
                b"<html><body>doc " + str(i).encode() + b" "
                + rng.integers(97, 123, 8000, dtype=np.uint8).astype(np.uint8).tobytes()
                + b"</body></html>"
            )
            recs.append((f"https://bench.test/{i}", "2025-01-01T00:00:00Z", body))
        write_warc_file(recs, f"{d}/p{s}.warc.gz")


def build_trace(d: str) -> None:
    rng = np.random.default_rng(12)
    per = N_TRACE // SHARDS
    for s in range(SHARDS):
        raw = rng.integers(0, 256, per * 13, dtype=np.int64).astype(np.uint8)
        raw.tofile(f"{d}/p{s}.dat")


def timeit(tag: str, df, n_expect: int, unit: float, reps: int = 5) -> float:
    rates = []
    for _ in range(reps):
        t0 = time.time()
        n = df.groupBy().count().collect()[0][0]
        dt = time.time() - t0
        assert n == n_expect, (tag, n, n_expect)
        rates.append(n_expect / dt / unit)
    rate = statistics.median(rates)
    print(f"{tag:55s} {rate:8.1f}  ({min(rates):.1f}–{max(rates):.1f})")
    return rate


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark(app="bench-sources", master=f"local[{cpus}]", shuffle_partitions=cpus)
    with tempfile.TemporaryDirectory() as wd:
        build_warc(wd)
        comp = sum(os.path.getsize(f"{wd}/p{s}.warc.gz") for s in range(SHARDS))
        print(f"WARC fixture: {N_WARC} records, {comp/1e6:.0f} MB compressed (k rec/s)")
        b = timeit("  batch read_warc", read_warc(spark, wd), N_WARC, 1e3)
        s = timeit(
            "  streamed read_warc_stream", read_warc_stream(spark, wd), N_WARC, 1e3
        )
        print(f"  stream/batch ratio: {s/b:.2f}")
    with tempfile.TemporaryDirectory() as td:
        build_trace(td)
        n = (N_TRACE // SHARDS) * SHARDS
        print(f"trace fixture: {n} keys x 13 B (M keys/s)")
        b = timeit("  batch read_flow_trace", read_flow_trace(spark, td), n, 1e6)
        s = timeit(
            "  streamed read_flow_trace_stream",
            read_flow_trace_stream(spark, td),
            n,
            1e6,
        )
        print(f"  stream/batch ratio: {s/b:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
