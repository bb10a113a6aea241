"""Round-4 fixes: ADVICE findings + verdict punch-list small items.

- bloom_prefilter coerces mixed-type join keys to a common type so
  equal values hash identically on both sides (no false negatives).
- label_propagate raises/warns when max_rounds exhausts unconverged.
- quantile_buckets gives NULL values a NULL bucket.
- write_sized falls back to a row-count estimate when Catalyst's
  sizeInBytes is implausible.
- mem_bytes accepts the reference's item_heap_fn parameter
  (src/heavykeeper.rs:388-403).
- IVF centroid sidecar round-trips through Spark parquet.
"""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F


class TestBloomKeyCoercion:
    def test_decimal_vs_double_no_false_negative(self, spark):
        # decimal(10,2) renders '1.00', double renders '1.0' — without
        # coercion the real match at 1.0 is silently dropped.
        big = spark.createDataFrame(
            [(1.0,), (2.5,), (9.75,), (3.0,)], "k double"
        )
        small = spark.sql(
            "SELECT CAST(v AS decimal(10,2)) AS j FROM VALUES (1.00), (9.75) t(v)"
        )
        from heavykeeper_rs_spark.operators.joins import bloom_prefilter

        got = {r["k"] for r in bloom_prefilter(big, "k", small, "j").collect()}
        assert {1.0, 9.75} <= got

    def test_int_vs_long_no_false_negative(self, spark):
        big = spark.createDataFrame([(i,) for i in range(100)], "k int")
        small = spark.createDataFrame([(7,), (42,)], "j bigint")
        from heavykeeper_rs_spark.operators.joins import bloom_prefilter

        got = {r["k"] for r in bloom_prefilter(big, "k", small, "j").collect()}
        assert {7, 42} <= got

    def test_incompatible_types_raise(self, spark):
        big = spark.createDataFrame([("a",)], "k string")
        small = spark.createDataFrame([(1,)], "j int")
        from heavykeeper_rs_spark.operators.joins import bloom_prefilter

        with pytest.raises(TypeError, match="incompatible key types"):
            bloom_prefilter(big, "k", small, "j")


class TestLabelPropagateContract:
    def _chain(self, spark, n):
        ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        return ids, edges

    def test_nonconvergence_raises(self, spark):
        from heavykeeper_rs_spark.operators.dedup import label_propagate

        ids, edges = self._chain(spark, 10)  # diameter 9 > max_rounds 3
        with pytest.raises(RuntimeError, match="did not converge"):
            label_propagate(ids, edges, max_rounds=3)

    def test_nonconvergence_warn_mode(self, spark):
        from heavykeeper_rs_spark.operators.dedup import label_propagate

        ids, edges = self._chain(spark, 10)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = label_propagate(ids, edges, max_rounds=3, on_nonconverged="warn")
            rows = out.collect()
        assert any("did not converge" in str(x.message) for x in w)
        assert len(rows) == 10  # partial labels still returned

    def test_long_chain_converges_with_enough_rounds(self, spark):
        from heavykeeper_rs_spark.operators.dedup import label_propagate

        # diameter 24 > the default 20: the old code would silently
        # return a split component; now it raises unless rounds allow.
        ids, edges = self._chain(spark, 25)
        got = {
            r["id"]: r["rep_id"]
            for r in label_propagate(ids, edges, max_rounds=30).collect()
        }
        assert set(got.values()) == {0}

    def test_bad_mode_rejected(self, spark):
        from heavykeeper_rs_spark.operators.dedup import label_propagate

        ids, edges = self._chain(spark, 2)
        with pytest.raises(ValueError, match="on_nonconverged"):
            label_propagate(ids, edges, on_nonconverged="ignore")


class TestQuantileBucketNulls:
    def test_null_value_gets_null_bucket(self, spark):
        from heavykeeper_rs_spark.operators.agg import quantile_buckets

        df = spark.createDataFrame(
            [(float(i),) for i in range(100)] + [(None,)] * 3, "v double"
        )
        bucketed, bounds = quantile_buckets(df, "v", n_buckets=4)
        rows = bucketed.collect()
        null_rows = [r for r in rows if r["v"] is None]
        assert len(null_rows) == 3
        assert all(r["bucket"] is None for r in null_rows)
        # non-null rows still bucketed 0..3
        assert {r["bucket"] for r in rows if r["v"] is not None} == {0, 1, 2, 3}


class TestWriteSizedFallback:
    def test_implausible_stats_fall_back_to_rowcount(self, spark, tmp_path, monkeypatch):
        import heavykeeper_rs_spark.sources.writer as writer

        df = spark.range(1000).withColumn("v", F.col("id") * 2)
        monkeypatch.setattr(writer, "estimated_bytes", lambda _df: 1 << 52)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            n = writer.write_sized(df, str(tmp_path / "out"), target_mb=256)
        assert n == 1  # 1000 narrow rows, not 100k files
        assert any("implausible" in str(x.message) for x in w)

    def test_plausible_stats_unchanged(self, spark, tmp_path):
        from heavykeeper_rs_spark.sources.writer import write_sized

        df = spark.range(1000).withColumn("v", F.col("id") * 2)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            n = write_sized(df, str(tmp_path / "out2"), target_mb=256)
        assert n >= 1
        assert not any("implausible" in str(x.message) for x in w)


class TestMemBytesItemHeapFn:
    def test_item_heap_fn_parity(self):
        # Mirrors the reference contract (src/heavykeeper.rs:388-403):
        # item_heap(t) returns bytes owned beyond the inline repr;
        # `|_| 0` for heap-free T.
        from heavykeeper_rs_spark.kernel import HeavyKeeper

        tk = HeavyKeeper.new(k=4, width=64, depth=2)
        ks = np.asarray([b"alpha", b"beta", b"gamma"], dtype=object)
        tk.add_batch(ks, np.array([10, 10, 10]))
        base = tk.mem_bytes()
        zero_heap = tk.mem_bytes(item_heap_fn=lambda _k: 0)
        keys_bytes = sum(len(k) for k in (b"alpha", b"beta", b"gamma"))
        assert base - zero_heap == keys_bytes
        doubled = tk.mem_bytes(item_heap_fn=lambda k: 2 * len(k))
        assert doubled - base == keys_bytes

    def test_variants_accept_item_heap_fn(self):
        from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

        for cls in (BucketedTopK, CuckooTopK):
            sk = cls(k=4, width=64, depth=2)
            sk.add_batch(np.asarray([b"alpha"], dtype=object), np.array([5]))
            assert sk.mem_bytes(item_heap_fn=lambda _k: 0) < sk.mem_bytes()
            ints = cls(k=4, width=64, depth=2)
            ints.add_batch(np.asarray([3, 3, 9], dtype=np.int64))
            assert ints.mem_bytes() == ints.mem_bytes(item_heap_fn=lambda _k: 0)


class TestIvfSidecarViaSpark:
    def test_centroids_roundtrip_parquet(self, spark, tmp_path):
        from heavykeeper_rs_spark.operators.similarity import (
            _load_centroids,
            ivf_build_index,
            ivf_search_index,
        )

        rng = np.random.default_rng(3)
        rows = [
            (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(200)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        idxp = str(tmp_path / "ivf")
        cents = ivf_build_index(emb, "vec_id", "embedding", idxp, n_centroids=4, seed=1)
        loaded = _load_centroids(spark, idxp)
        assert loaded.shape == cents.shape
        np.testing.assert_allclose(loaded, cents.astype(np.float32), rtol=1e-6)
        # search works with no centroids passed (reads the sidecar)
        q = rows[0][1]
        got = ivf_search_index(spark, idxp, q, k=5, n_probe=4).collect()
        assert len(got) == 5
        # the sidecar dir must NOT leak into the main index scan
        main = spark.read.parquet(idxp)
        assert "centroid_id" not in main.columns


class TestFlowTraceSource:
    """CAIDA-style .dat trace source (examples/ip_files.rs:13-98
    analog): fixed-width binary records across files, distributed."""

    def test_roundtrip_and_partial_record_drop(self, spark, tmp_path):
        import numpy as np

        from heavykeeper_rs_spark.sources.trace import (
            read_flow_trace,
            write_flow_trace,
        )

        rng = np.random.default_rng(5)
        keys_a = [bytes(rng.integers(0, 256, 13, dtype=np.uint8)) for _ in range(200)]
        keys_b = [bytes(rng.integers(0, 256, 13, dtype=np.uint8)) for _ in range(117)]
        write_flow_trace(keys_a, str(tmp_path / "t0.dat"))
        write_flow_trace(keys_b, str(tmp_path / "t1.dat"))
        # truncated final record must be dropped (read_exact semantics)
        with open(tmp_path / "t1.dat", "ab") as f:
            f.write(b"\x01\x02\x03")
        (tmp_path / "ignore.txt").write_bytes(b"not a trace")
        df = read_flow_trace(spark, str(tmp_path), key_size=13)
        got = sorted(bytes(r["flow_key"]) for r in df.collect())
        assert got == sorted(keys_a + keys_b)

    def test_score_results_reference_semantics(self):
        """score_results mirrors ip_files.rs:126-173: hit ratio over
        reported, ARE_reported skips unknown items, ARE_true_top_k
        charges missing items as zero-count."""
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "score_accuracy",
            os.path.join(os.path.dirname(__file__), "..", "tools", "score_accuracy.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        truth = {b"a": 100, b"b": 50, b"c": 10, b"d": 8}
        true_top = {b"a", b"b", b"c"}
        results = [(b"a", 110), (b"b", 50), (b"x", 7)]  # x unknown to truth
        counts = {b"a": 110, b"b": 50, b"c": 0}
        m = mod.score_results(results, truth, true_top, lambda it: counts.get(it, 0))
        assert m["hit_ratio"] == round(2 / 3, 4)
        assert m["are_reported"] == round((10 / 100 + 0 / 50) / 2, 6)
        # c missing from the sketch -> relative error 1.0 on its count
        assert m["are_true_top_k"] == round((10 / 100 + 0 + 1.0) / 3, 6)


class TestNewApiEdges:
    def test_sketch_blobs_by_group_empty_input(self, spark):
        from heavykeeper_rs_spark.operators.agg import cms_by_group

        df = spark.createDataFrame([], "g string, v string")
        assert cms_by_group(df, "g", "v").count() == 0

    def test_sketch_blobs_by_group_null_group(self, spark):
        from heavykeeper_rs_spark.operators.agg import bloom_by_group
        from heavykeeper_rs_spark.sketches.bloom import Bloom

        df = spark.createDataFrame(
            [(None, "x"), (None, "y"), ("a", "z")], "g string, v string"
        )
        got = {r["group"]: r["sketch"] for r in bloom_by_group(df, "g", "v").collect()}
        assert set(got) == {"None", "a"}  # NULL group coalesced, not dropped
        sk = Bloom.deserialize(got["None"])
        import numpy as np

        assert bool(sk.contains(np.asarray(["x", "y"], dtype=object)).all())

    def test_estimate_partitions_no_file_plan(self, spark):
        from heavykeeper_rs_spark.operators.scan import estimate_partitions

        df = spark.createDataFrame([(1,)], "x int")
        par = spark.sparkContext.defaultParallelism
        assert estimate_partitions(df) == par
        assert estimate_partitions(df, bias="low") == par

    def test_estimate_partitions_file_scan(self, spark):
        from heavykeeper_rs_spark.operators.scan import estimate_partitions

        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        par = spark.sparkContext.defaultParallelism
        assert estimate_partitions(df, bias="low") == 1  # single file
        assert estimate_partitions(df) == par  # high bias floors at par


class TestSketchStore:
    """Build-once / probe-many persisted sketch tables."""

    def test_single_sketch_roundtrip_all_variants(self, spark, tmp_path):
        from heavykeeper_rs_spark.operators.topk import topk_sketch
        from heavykeeper_rs_spark.sources.sketch_store import (
            load_sketch,
            save_sketch,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        for variant in ("topk", "bucketed", "cuckoo"):
            sk = topk_sketch(ev, "event_type", k=5, width=1024, depth=4,
                             variant=variant)
            p = str(tmp_path / f"sk_{variant}")
            save_sketch(spark, sk, p, meta={"variant": variant, "k": 5})
            back, meta = load_sketch(spark, p)
            assert meta["variant"] == variant
            assert back.list() == sk.list()

    def test_other_family_roundtrip(self, spark, tmp_path):
        from heavykeeper_rs_spark.operators.agg import hll_build
        from heavykeeper_rs_spark.sketches.hll import HLL
        from heavykeeper_rs_spark.sources.sketch_store import (
            load_sketch,
            save_sketch,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sk = hll_build(ev, "user_id")
        p = str(tmp_path / "hll")
        save_sketch(spark, sk, p)
        back, _ = load_sketch(spark, p)
        assert isinstance(back, HLL)
        assert abs(back.estimate() - sk.estimate()) < 1e-9

    def test_grouped_store_and_point_lookup(self, spark, tmp_path):
        import numpy as np

        from heavykeeper_rs_spark.operators.agg import cms_by_group
        from heavykeeper_rs_spark.sketches.cms import CountMin
        from heavykeeper_rs_spark.sources.sketch_store import (
            load_group,
            load_grouped_sketches,
            save_grouped_sketches,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        blobs = cms_by_group(ev, "event_type", "user_id", width=512, depth=3)
        p = str(tmp_path / "cms_by_type")
        save_grouped_sketches(blobs, p)
        table = load_grouped_sketches(spark, p)
        groups = {r["group"] for r in table.select("group").collect()}
        assert groups == {
            r[0] for r in ev.select("event_type").distinct().collect()
        }
        g = sorted(groups)[0]
        sk = load_group(spark, p, g)
        assert isinstance(sk, CountMin)
        truth = (
            ev.filter(ev.event_type == g).groupBy("user_id").count().collect()
        )
        keys = np.asarray([str(r["user_id"]) for r in truth], dtype=object)
        est = sk.estimate(keys)
        assert all(e >= r["count"] for e, r in zip(est, truth))
        import pytest as _pt

        with _pt.raises(KeyError):
            load_group(spark, p, "no-such-group")

    def test_tampered_store_raises_never_executes(self, spark, tmp_path):
        from heavykeeper_rs_spark.operators.topk import topk_sketch
        from heavykeeper_rs_spark.sources.sketch_store import (
            load_sketch,
            save_sketch,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sk = topk_sketch(ev, "event_type", k=3, width=256, depth=2)
        p = str(tmp_path / "tamper")
        save_sketch(spark, sk, p)
        import pickle

        evil = pickle.dumps({"boom": 1})
        df = spark.read.parquet(p)
        from heavykeeper_rs_spark.operators.topk import local_result_df

        local_result_df(
            spark,
            [(bytearray(evil), "{}", "HeavyKeeper")],
            "sketch binary, meta string, sketch_type string",
        ).coalesce(1).write.mode("overwrite").parquet(p)
        with pytest.raises(ValueError):
            load_sketch(spark, p)
        assert df is not None


class TestGroupedHeavyKeeperBlobTable:
    def test_grouped_hk_blobs_roundtrip(self, spark, tmp_path):
        """sketch_blobs_by_group is family-generic: a grouped
        HeavyKeeper blob table persists and probes per group."""
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
        from heavykeeper_rs_spark.operators.agg import sketch_blobs_by_group
        from heavykeeper_rs_spark.sources.sketch_store import (
            load_group,
            save_grouped_sketches,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        blobs = sketch_blobs_by_group(
            ev,
            "event_type",
            "user_id",
            make=lambda: HeavyKeeper(HKParams(k=3, width=1024, depth=4)),
        )
        p = str(tmp_path / "hk_by_type")
        save_grouped_sketches(blobs, p)
        g = ev.select("event_type").first()[0]
        sk = load_group(spark, p, g)
        truth = (
            ev.filter(ev.event_type == g)
            .groupBy("user_id")
            .count()
            .orderBy(F.desc("count"), "user_id")
            .limit(3)
            .collect()
        )
        got = {it.decode(): c for it, c in sk.list()}
        want = {str(r["user_id"]): r["count"] for r in truth}
        # uncontended regime at this scale: counts exact for true top
        for k, v in want.items():
            assert got.get(k) == v, (g, got, want)
