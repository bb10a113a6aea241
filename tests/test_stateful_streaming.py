"""applyInPandasWithState streaming sketch: state-store-backed shards,
results equal the exact batch answer in the exact regime."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from heavykeeper_rs_spark.kernel import HKParams
from heavykeeper_rs_spark.streaming.stateful import (
    merge_shard_blobs,
    stateful_topk_stream,
)


def test_stateful_topk_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for i in range(3):
        part = ev.filter(F.col("event_id") % 3 == i)
        part.coalesce(1).write.parquet(f"{src}/b{i}", mode="overwrite")
    for i, f in enumerate(glob.glob(f"{src}/b*/*.parquet")):
        shutil.copy(f, f"{src}/arrival-{i}.parquet")
    for i in range(3):
        shutil.rmtree(f"{src}/b{i}")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    params = HKParams(k=5, width=2048, depth=4, decay=0.9, seed=12345)
    out = stateful_topk_stream(stream, "event_type", params, n_shards=4)
    q = (
        out.writeStream.format("memory")
        .queryName("shard_sketches")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "select * from shard_sketches"
    ).collect()
    assert rows, "no shard updates emitted"
    sk = merge_shard_blobs(rows)
    got = dict(sk.list())
    truth = {
        r[0].encode(): r[1]
        for r in ev.groupBy("event_type")
        .count()
        .orderBy(F.desc("count"))
        .limit(5)
        .collect()
    }
    assert got == truth
    # state survived across the 3 file triggers: total rows folded == input
    latest = {}
    for r in rows:
        latest[r["shard"]] = max(latest.get(r["shard"], 0), r["rows_seen"])
    assert sum(latest.values()) == ev.count()


def test_stateful_stream_restart_resumes_state(spark, tmp_path):
    """Kill the query, add new data, restart from the SAME checkpoint:
    the state store must carry the sketch counts across restarts."""
    src = str(tmp_path / "src2")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.parquet(f"{src}/a", mode="overwrite")
    for i, f in enumerate(glob.glob(f"{src}/a/*.parquet")):
        shutil.copy(f, f"{src}/f0.parquet")
    shutil.rmtree(f"{src}/a")

    params = HKParams(k=5, width=2048, depth=4, decay=0.9, seed=12345)
    ckpt = str(tmp_path / "ck2")

    captured: list = []

    def run_once(qname):
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = stateful_topk_stream(stream, "event_type", params, n_shards=4)

        def sink(batch_df, batch_id):
            captured.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(180)

    run_once("restart_run1")
    # second arrival AFTER the first query fully stopped
    second.coalesce(1).write.parquet(f"{src}/b", mode="overwrite")
    for i, f in enumerate(glob.glob(f"{src}/b/*.parquet")):
        shutil.copy(f, f"{src}/f1.parquet")
    shutil.rmtree(f"{src}/b")
    captured.clear()
    run_once("restart_run2")

    rows = captured
    assert rows, "restarted query emitted nothing"
    sk = merge_shard_blobs(rows)
    got = dict(sk.list())
    truth = {
        r[0].encode(): r[1]
        for r in ev.groupBy("event_type")
        .count()
        .orderBy(F.desc("count"))
        .limit(5)
        .collect()
    }
    # counts include BOTH halves => state carried across the restart
    assert got == truth


def test_stateful_windowed_topk_stream(spark, tmp_path):
    """Per-window sketches finalize when the event-time watermark
    passes the window end; finalized windows must equal the batch
    per-window exact top-K (exact regime)."""
    import glob
    import shutil

    from heavykeeper_rs_spark.streaming.stateful import (
        stateful_windowed_topk_stream,
    )

    src = str(tmp_path / "wsrc")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # arrivals must be (roughly) event-time ordered — a stream that
    # replays a month of history in random order is all "late data"
    # and the watermark correctly drops it
    tsd = F.col("ts").cast("timestamp").cast("double")
    bounds = ev.select(
        F.percentile_approx(tsd, [0.33, 0.66], 10000).alias("b")
    ).collect()[0]["b"]
    parts = [
        ev.filter(tsd <= bounds[0]),
        ev.filter((tsd > bounds[0]) & (tsd <= bounds[1])),
        ev.filter(tsd > bounds[1]),
    ]
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(f"{src}/b{i}", mode="overwrite")
        f = glob.glob(f"{src}/b{i}/*.parquet")[0]
        shutil.copy(f, f"{src}/warrival-{i}.parquet")
        shutil.rmtree(f"{src}/b{i}")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # track 2k then cut to k so equal-count boundary ties resolve like
    # ORDER BY count DESC, key (the entry queries' tie_break_key trick)
    params = HKParams(k=6, width=1024, depth=4, decay=0.9, seed=12345)
    out = stateful_windowed_topk_stream(
        stream, "event_type", "ts", params,
        window="12 hours", watermark="1 minute", n_shards=2,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("windowed_sketches")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql("select * from windowed_sketches").collect()
    finals = [r for r in rows if r["final"] == 1]
    assert finals, "no window finalized despite watermark passing"
    from heavykeeper_rs_spark.streaming.stateful import merge_window_blobs

    merged = merge_window_blobs(rows)
    checked = 0
    for wstart, acc in list(merged.items())[:5]:
        got = sorted(acc.list(), key=lambda t: (-t[1], t[0]))[:3]
        lo = F.from_unixtime(F.lit(wstart)).cast("timestamp")
        hi = F.from_unixtime(F.lit(wstart + 12 * 3600)).cast("timestamp")
        truth = (
            ev.filter((F.col("ts").cast("timestamp") >= lo) & (F.col("ts").cast("timestamp") < hi))
            .groupBy("event_type").count()
            .orderBy(F.desc("count"), "event_type").limit(3).collect()
        )
        want = [(r[0].encode(), r[1]) for r in truth]
        assert got == want, f"window {wstart}"
        checked += 1
    assert checked >= 1


def test_windowed_stream_restart_exact_vs_batch(spark, tmp_path):
    """Kill/restart at a non-trivial shard count: the windowed stream
    is stopped mid-history, later-event-time data arrives, and the
    query restarts from the SAME checkpoint. Every window's merged
    sketch must then equal the batch per-window exact top-K — state
    (including per-(window, shard) sketch blobs and registered
    event-time timeouts) survived the restart."""
    import glob
    import shutil

    from heavykeeper_rs_spark.streaming.stateful import (
        merge_window_blobs,
        stateful_windowed_topk_stream,
    )

    src = str(tmp_path / "wrsrc")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tsd = F.col("ts").cast("timestamp").cast("double")
    bounds = ev.select(
        F.percentile_approx(tsd, [0.25, 0.5, 0.75], 10000).alias("b")
    ).collect()[0]["b"]
    parts = [
        ev.filter(tsd <= bounds[0]),
        ev.filter((tsd > bounds[0]) & (tsd <= bounds[1])),
        ev.filter((tsd > bounds[1]) & (tsd <= bounds[2])),
        ev.filter(tsd > bounds[2]),
    ]

    def land(part, name):
        part.coalesce(1).write.parquet(f"{src}/tmp", mode="overwrite")
        shutil.copy(glob.glob(f"{src}/tmp/*.parquet")[0], f"{src}/{name}.parquet")
        shutil.rmtree(f"{src}/tmp")

    params = HKParams(k=6, width=1024, depth=4, decay=0.9, seed=12345)
    ckpt = str(tmp_path / "wrck")
    captured: list = []

    def run_once():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = stateful_windowed_topk_stream(
            stream, "event_type", "ts", params,
            window="12 hours", watermark="1 minute", n_shards=8,
        )

        def sink(batch_df, batch_id):
            captured.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(240)

    # phase 1: first half of history, then the query STOPS
    land(parts[0], "arrival-0")
    land(parts[1], "arrival-1")
    run_once()
    n_phase1 = len(captured)
    assert n_phase1 > 0
    # phase 2: the rest of history lands while the query is down
    land(parts[2], "arrival-2")
    land(parts[3], "arrival-3")
    run_once()
    assert len(captured) > n_phase1, "restarted query emitted nothing"

    merged = merge_window_blobs(captured)
    assert merged, "no windows produced"
    checked = 0
    for wstart, acc in merged.items():
        got = sorted(acc.list(), key=lambda t: (-t[1], t[0]))[:3]
        lo = F.from_unixtime(F.lit(wstart)).cast("timestamp")
        hi = F.from_unixtime(F.lit(wstart + 12 * 3600)).cast("timestamp")
        truth = (
            ev.filter(
                (F.col("ts").cast("timestamp") >= lo)
                & (F.col("ts").cast("timestamp") < hi)
            )
            .groupBy("event_type").count()
            .orderBy(F.desc("count"), "event_type").limit(3).collect()
        )
        want = [(r[0].encode(), r[1]) for r in truth]
        assert got == want, f"window {wstart} diverged after restart"
        checked += 1
    assert checked >= 3  # multiple windows, all exact


def test_stateful_stream_variant(spark, tmp_path):
    """Sharded streaming sketches run the variant layouts too; the
    shard blobs carry the magic, so merge_shard_blobs sniffs it."""
    import glob
    import shutil

    from heavykeeper_rs_spark.variants import CuckooTopK

    src = str(tmp_path / "vsrc")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.coalesce(1).write.parquet(f"{src}/tmp")
    shutil.copy(glob.glob(f"{src}/tmp/*.parquet")[0], f"{src}/f0.parquet")
    shutil.rmtree(f"{src}/tmp")
    params = HKParams(k=5, width=2048, depth=4, decay=0.9, seed=12345)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = stateful_topk_stream(stream, "event_type", params, n_shards=4, variant="cuckoo")
    captured: list = []
    q = (
        out.writeStream.foreachBatch(lambda b, i: captured.extend(b.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "vck"))
        .start()
    )
    q.awaitTermination(180)
    sk = merge_shard_blobs(captured)
    assert isinstance(sk, CuckooTopK)
    truth = {
        r[0].encode(): r[1]
        for r in ev.groupBy("event_type").count().orderBy(F.desc("count")).limit(5).collect()
    }
    assert dict(sk.list()) == truth


def test_sliding_window_cms_stream_vs_batch(spark, tmp_path):
    """SLIDING event-time windows (round 4) over a non-HK family:
    streaming CountMin per (12h window sliding every 6h, shard) —
    every window's merged sketch must bound each event type's true
    per-window count from above with the CM guarantee, every event
    must land in window/slide = 2 windows, and the window-start set
    must equal the batch sliding-window truth."""
    import os as _os

    from heavykeeper_rs_spark.sketches.cms import CountMin
    from heavykeeper_rs_spark.streaming.stateful import (
        merge_window_blobs,
        stateful_windowed_sketch_stream,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "slsrc")
    _os.makedirs(src)
    _os.symlink("/root/testdata/sf0.001/events.parquet", f"{src}/events.parquet")
    rows: list = []
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = stateful_windowed_sketch_stream(
        stream,
        "event_type",
        "ts",
        make=lambda wstart, shard: CountMin(1024, 4, 7),
        window="12 hours",
        slide="6 hours",
        watermark="1 minute",
        n_shards=2,
    )
    q = (
        out.writeStream.foreachBatch(lambda b, i: rows.extend(b.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "slck"))
        .start()
    )
    q.awaitTermination(300)
    merged = merge_window_blobs(rows)

    # batch truth: per sliding window (2 windows per event), per type
    truth_rows = (
        ev.select(
            F.unix_timestamp(
                F.window(F.col("ts").cast("timestamp"), "12 hours", "6 hours")
                .getField("start")
            ).alias("w"),
            "event_type",
        )
        .groupBy("w", "event_type")
        .count()
        .collect()
    )
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r["w"], {})[r["event_type"]] = r["count"]
    assert set(merged) == set(truth)
    import numpy as np

    n_events = ev.count()
    total_rows_in_windows = sum(sum(d.values()) for d in truth.values())
    assert total_rows_in_windows == 2 * n_events  # overlap factor
    eps = np.e / 1024
    for w, sk in merged.items():
        types = np.asarray(list(truth[w]), dtype=object)
        est = sk.estimate(types)
        n_w = sum(truth[w].values())
        assert int(sk.total) == n_w  # CM total is exact per window
        for t, e in zip(types, est):
            assert truth[w][t] <= e <= truth[w][t] + eps * n_w


def test_weighted_windowed_stream_vs_batch(spark, tmp_path):
    """Weighted streaming sketches (round 4): per-12h-window HK top-K
    weighted by events.value must equal the batch per-window exact
    weighted top-K (uncontended regime)."""
    import os as _os

    from heavykeeper_rs_spark.streaming.stateful import (
        merge_window_blobs,
        stateful_windowed_sketch_stream,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "w", (F.col("value") * 100).cast("long") + 1
    )
    src = str(tmp_path / "wsrc")
    assert _os  # write creates the dir; os import kept for parity with siblings
    ev.coalesce(1).write.parquet(src)
    rows: list = []
    stream = spark.readStream.schema(ev.schema).parquet(src)
    params = HKParams(k=4, width=2048, depth=4, decay=0.9, seed=12345)

    def make(ws, sh):
        import numpy as _np

        from heavykeeper_rs_spark.operators.topk import _make_sketch

        return _make_sketch(
            "topk",
            params,
            _np.random.default_rng(_np.random.PCG64((params.seed << 9) ^ (ws + sh))),
        )

    out = stateful_windowed_sketch_stream(
        stream,
        "event_type",
        "ts",
        make=make,
        window="12 hours",
        watermark="1 minute",
        n_shards=2,
        weight_col="w",
    )
    q = (
        out.writeStream.foreachBatch(lambda b, i: rows.extend(b.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    q.awaitTermination(300)
    merged = merge_window_blobs(rows)
    truth_rows = (
        ev.select(
            (
                F.col("ts").cast("timestamp").cast("long")
                - F.col("ts").cast("timestamp").cast("long") % 43200
            ).alias("win"),
            "event_type",
            "w",
        )
        .groupBy("win", "event_type")
        .agg(F.sum("w").alias("tw"))
        .collect()
    )
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(r["win"], []).append((r["event_type"].encode(), r["tw"]))
    assert set(merged) == set(truth)
    for win, sk in merged.items():
        got = sorted(sk.list(), key=lambda t: (-t[1], t[0]))[:4]
        want = sorted(truth[win], key=lambda t: (-t[1], t[0]))[:4]
        assert got == want, (win, got, want)


def test_weighted_unwindowed_stream(spark, tmp_path):
    """weight_col on the unwindowed shard stream: global weighted
    top-K equals the batch exact weighted counts."""
    import os as _os

    from heavykeeper_rs_spark.streaming.stateful import (
        merge_shard_blobs,
        stateful_topk_stream,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "w", (F.col("value") * 10).cast("long") + 1
    )
    src = str(tmp_path / "uwsrc")
    ev.coalesce(1).write.parquet(src)
    assert _os.path.exists(src)
    rows: list = []
    stream = spark.readStream.schema(ev.schema).parquet(src)
    params = HKParams(k=4, width=2048, depth=4, decay=0.9, seed=12345)
    out = stateful_topk_stream(stream, "event_type", params, n_shards=4, weight_col="w")
    q = (
        out.writeStream.foreachBatch(lambda b, i: rows.extend(b.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "uwck"))
        .start()
    )
    q.awaitTermination(300)
    sk = merge_shard_blobs(rows)
    got = sorted(sk.list(), key=lambda t: (-t[1], t[0]))[:4]
    want = sorted(
        (
            (r["event_type"].encode(), r["tw"])
            for r in ev.groupBy("event_type").agg(F.sum("w").alias("tw")).collect()
        ),
        key=lambda t: (-t[1], t[0]),
    )[:4]
    assert got == want
