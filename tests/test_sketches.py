"""Sketch-family tests: local kernel accuracy + distributed build,
cross-checked against exact answers and Spark built-ins
(approx_count_distinct / percentile_approx) per SURVEY §7 step 6."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavykeeper_rs_spark.operators.agg import (
    bloom_build,
    cms_build,
    hll_build,
    hll_distinct,
    kll_build,
    tdigest_build,
)
from heavykeeper_rs_spark.sketches.bloom import Bloom
from heavykeeper_rs_spark.sketches.cms import CountMin
from heavykeeper_rs_spark.sketches.hll import HLL
from heavykeeper_rs_spark.sketches.kll import KLL
from heavykeeper_rs_spark.sketches.tdigest import TDigest


def obj(xs):
    return np.asarray(xs, dtype=object)


_INT_BATCHES = {
    "int64": np.arange(-3, 4000, 7, dtype=np.int64) * 1_000_003,
    "negative": -np.arange(1, 500, dtype=np.int64),
    "uint64-high": np.asarray([2**63, 2**64 - 1, 0, 2**63 + 5] * 40, dtype=np.uint64),
    "int8": np.asarray([-128, 0, 127, 5] * 30, dtype=np.int8),
    "bool": np.asarray([True, False, True] * 50),
    "mixed": [1, True, "1", b"1", 2**70, -4, np.uint64(2**63)] * 20,
}


@pytest.mark.parametrize("batch", sorted(_INT_BATCHES))
def test_family_int_values_hash_as_their_text(batch):
    """CountMin, HLL and Bloom hash a value as its text: an integer
    ndarray gives the blobs and answers the same values as Python
    objects give."""
    values = _INT_BATCHES[batch]
    as_obj = obj(list(values))
    for make in (lambda: CountMin(256, 3), lambda: HLL(10), lambda: Bloom(1 << 12, 3)):
        a, b = make(), make()
        a.add_batch(values)
        b.add_batch(as_obj)
        assert a.serialize() == b.serialize()
    cms = CountMin(256, 3)
    cms.add_batch(as_obj)
    assert cms.estimate(values).tolist() == cms.estimate(as_obj).tolist()
    bloom = Bloom(1 << 12, 3)
    bloom.add_batch(as_obj[::2])
    assert bloom.contains(values).tolist() == bloom.contains(as_obj).tolist()


# ------------------------------------------------------------------ HLL
class TestHLL:
    def test_estimate_within_bound(self):
        sk = HLL(p=14)
        n = 200_000
        sk.add_batch(obj([f"item{i}" for i in range(n)]))
        err = abs(sk.estimate() - n) / n
        assert err < 0.03, err  # 1.04/sqrt(16384) ~ 0.8%; 3% is ~4 sigma

    def test_small_range_linear_counting(self):
        sk = HLL(p=12)
        sk.add_batch(obj([f"x{i}" for i in range(100)]))
        assert abs(sk.estimate() - 100) < 5

    def test_merge_equals_union(self):
        a, b = HLL(p=12), HLL(p=12)
        a.add_batch(obj([f"a{i}" for i in range(5000)]))
        b.add_batch(obj([f"a{i}" for i in range(2500, 7500)]))
        a.merge(b)
        assert abs(a.estimate() - 7500) / 7500 < 0.05

    def test_duplicates_dont_count(self):
        sk = HLL(p=12)
        for _ in range(5):
            sk.add_batch(obj([f"d{i}" for i in range(1000)]))
        assert abs(sk.estimate() - 1000) / 1000 < 0.05

    def test_roundtrip(self):
        sk = HLL(p=10)
        sk.add_batch(obj(["a", "b"]))
        back = HLL.deserialize(sk.serialize())
        assert (back.regs == sk.regs).all()


# ------------------------------------------------------------------ CMS
class TestCMS:
    def test_overestimate_only_and_bound(self):
        rng = np.random.default_rng(5)
        keys = rng.zipf(1.5, 100_000).astype(str).astype(object)
        sk = CountMin(width=2048, depth=5)
        sk.add_batch(keys)
        uniq, counts = np.unique(keys, return_counts=True)
        est = sk.estimate(uniq)
        assert (est >= counts).all()  # never underestimates
        eps = np.e / 2048
        frac_over = ((est - counts) > eps * sk.total).mean()
        assert frac_over < 0.01

    def test_weighted_and_merge(self):
        a, b = CountMin(1024, 4), CountMin(1024, 4)
        a.add_batch(obj(["x"]), np.array([10.0]))
        b.add_batch(obj(["x", "y"]), np.array([5.0, 3.0]))
        a.merge(b)
        assert a.estimate(obj(["x"]))[0] >= 15
        assert a.total == 18

    def test_roundtrip(self):
        sk = CountMin(256, 3)
        sk.add_batch(obj(["p", "q", "p"]))
        back = CountMin.deserialize(sk.serialize())
        assert (back.table == sk.table).all() and back.total == 3


# ---------------------------------------------------------------- Bloom
class TestBloom:
    def test_no_false_negatives(self):
        sk = Bloom.for_capacity(10_000, fpp=0.01)
        items = obj([f"in{i}" for i in range(10_000)])
        sk.add_batch(items)
        assert sk.contains(items).all()

    def test_fp_rate_near_design(self):
        sk = Bloom.for_capacity(10_000, fpp=0.01)
        sk.add_batch(obj([f"in{i}" for i in range(10_000)]))
        probe = obj([f"out{i}" for i in range(20_000)])
        fp = sk.contains(probe).mean()
        assert fp < 0.03  # design 1%, allow 3x

    def test_merge_is_union(self):
        a = Bloom(1 << 16, 5)
        b = Bloom(1 << 16, 5)
        a.add_batch(obj(["left"]))
        b.add_batch(obj(["right"]))
        a.merge(b)
        assert a.contains(obj(["left", "right"])).all()

    def test_roundtrip(self):
        sk = Bloom(1 << 10, 3)
        sk.add_batch(obj(["z"]))
        back = Bloom.deserialize(sk.serialize())
        assert back.contains(obj(["z"]))[0]


# ------------------------------------------------------------------ KLL
class TestKLL:
    def test_quantiles_within_rank_error(self):
        rng = np.random.default_rng(11)
        data = rng.normal(0, 1, 500_000)
        sk = KLL(k=200)
        for chunk in np.array_split(data, 20):
            sk.add_batch(chunk)
        s = np.sort(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = sk.quantile(q)[0]
            true_rank = np.searchsorted(s, est) / s.size
            assert abs(true_rank - q) < 0.02, (q, est, true_rank)

    def test_merge(self):
        a, b = KLL(200, seed=1), KLL(200, seed=2)
        a.add_batch(np.arange(0, 50_000, dtype=np.float64))
        b.add_batch(np.arange(50_000, 100_000, dtype=np.float64))
        a.merge(b)
        med = a.quantile(0.5)[0]
        assert abs(med - 50_000) / 100_000 < 0.02
        assert a.n == 100_000

    def test_roundtrip(self):
        sk = KLL(64)
        sk.add_batch(np.arange(1000, dtype=np.float64))
        back = KLL.deserialize(sk.serialize())
        assert back.quantile(0.5)[0] == sk.quantile(0.5)[0]


# -------------------------------------------------------------- TDigest
class TestTDigest:
    def test_tail_quantiles(self):
        rng = np.random.default_rng(13)
        data = rng.exponential(1.0, 400_000)
        sk = TDigest(delta=200)
        for chunk in np.array_split(data, 16):
            sk.add_batch(chunk)
        s = np.sort(data)
        for q in (0.001, 0.5, 0.999):
            est = sk.quantile(q)[0]
            true_rank = np.searchsorted(s, est) / s.size
            assert abs(true_rank - q) < 0.005, (q, est, true_rank)

    def test_merge(self):
        a, b = TDigest(100), TDigest(100)
        a.add_batch(np.full(1000, 1.0))
        b.add_batch(np.full(1000, 3.0))
        a.merge(b)
        assert abs(a.quantile(0.5)[0] - 2.0) < 1.01
        assert a.n == 2000

    def test_centroid_count_bounded(self):
        sk = TDigest(delta=100)
        sk.add_batch(np.random.default_rng(1).random(100_000))
        sk._flush()
        assert sk.means.size <= 200  # ~delta centroids


# --------------------------------------------------------- distributed
class TestDistributed:
    def test_hll_distinct_vs_exact_and_builtin(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
        est = hll_distinct(ev, "user_id")
        assert abs(est - exact) / exact < 0.03
        builtin = ev.select(F.approx_count_distinct("user_id")).collect()[0][0]
        assert abs(est - builtin) / exact < 0.06

    def test_cms_distributed(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sk = cms_build(ev, "event_type", width=4096, depth=5)
        truth = dict(ev.groupBy("event_type").count().collect())
        est = sk.estimate(np.asarray(list(truth), dtype=object))
        for (k, v), e in zip(truth.items(), est):
            assert v <= e <= v + 0.01 * sk.total

    def test_bloom_distributed(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sk = bloom_build(ev, "event_type")
        types = [r[0] for r in ev.select("event_type").distinct().collect()]
        assert sk.contains(np.asarray(types, dtype=object)).all()
        assert not sk.contains(obj(["never-seen-event"]))[0]

    def test_kll_vs_percentile_approx(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sk = kll_build(ev, "value")
        exact = ev.selectExpr(
            "percentile(value, array(0.25, 0.5, 0.75)) as p"
        ).collect()[0]["p"]
        got = sk.quantile(np.array([0.25, 0.5, 0.75]))
        span = ev.select(F.max("value") - F.min("value")).collect()[0][0]
        for g, e in zip(got, exact):
            assert abs(g - e) / span < 0.02

    def test_tdigest_distributed(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sk = tdigest_build(ev, "value")
        exact = ev.selectExpr("percentile(value, 0.99) as p").collect()[0]["p"]
        span = ev.select(F.max("value") - F.min("value")).collect()[0][0]
        assert abs(sk.quantile(0.99)[0] - exact) / span < 0.02


def test_quantile_buckets(spark):
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.agg import quantile_buckets

    rows = [Row(v=float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows).repartition(8)
    bucketed, bounds = quantile_buckets(df, "v", n_buckets=4)
    assert len(bounds) == 3 and sorted(bounds) == bounds
    counts = {r["bucket"]: r["count"] for r in bucketed.groupBy("bucket").count().collect()}
    assert set(counts) == {0, 1, 2, 3}
    assert all(abs(c - 250) <= 30 for c in counts.values()), counts
    import pytest as _pt

    with _pt.raises(ValueError, match="n_buckets"):
        quantile_buckets(df, "v", n_buckets=1)
