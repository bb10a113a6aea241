"""End-to-end distributed top-K vs the exact groupBy().count() oracle
(SURVEY §5: the Spark analog of tests/accuracy_compare.rs ground truth)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from heavykeeper_rs_spark.operators.topk import estimate, topk, topk_sketch


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


def exact_topk(df, col, k):
    return {
        r["item"]: r["cnt"]
        for r in df.groupBy(F.col(col).alias("item"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "item")
        .limit(k)
        .collect()
    }


def test_topk_event_type_exact_regime(spark, events):
    # few distinct event types, wide sketch -> must be exact
    got = topk(events, "event_type", k=5, width=1024, depth=4, tie_break_key=True)
    got_d = {r["item"]: r["count"] for r in got.collect()}
    assert got_d == exact_topk(events, "event_type", 5)


def test_topk_user_id_high_card(spark, events):
    truth = exact_topk(events, "user_id", 10)
    got = topk(
        events.withColumn("user_id", F.col("user_id").cast("string")),
        "user_id",
        k=10,
        width=8192,
        depth=4,
        tie_break_key=True,
    )
    got_d = {r["item"]: r["count"] for r in got.collect()}
    truth_s = {str(k): v for k, v in truth.items()}
    # high-cardinality but uncontended (width >> distinct): exact
    assert got_d == truth_s


def test_weighted_topk(spark, events):
    # weight by value column ~ weighted add (src/heavykeeper.rs:273)
    w = events.withColumn("w", (F.col("value") * 0 + 2).cast("long"))
    got = topk(w, "event_type", k=3, width=1024, weight_col="w", tie_break_key=True)
    plain = topk(events, "event_type", k=3, width=1024, tie_break_key=True)
    gd = {r["item"]: r["count"] for r in got.collect()}
    pd_ = {r["item"]: r["count"] for r in plain.collect()}
    assert gd == {k: 2 * v for k, v in pd_.items()}


def test_estimate_broadcast_probe(spark, events):
    sk = topk_sketch(events, "event_type", k=20, width=2048, depth=4)
    probed = estimate(events, "event_type", sk).select("event_type", "est_count")
    truth = dict(
        events.groupBy("event_type").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    rows = probed.distinct().collect()
    for r in rows:
        assert r["est_count"] == truth[r["event_type"]]


def test_estimate_int64_keys(spark, events):
    """An integer-keyed sketch lives on the int64 lane; the probe must
    hash the same lane — a string-cast probe estimates every key 0."""
    truth = {
        r["user_id"]: r["count"] for r in events.groupBy("user_id").count().collect()
    }
    # k below the distinct count: PQ and cell estimates are both probed
    sk = topk_sketch(events, "user_id", k=5, width=65536, depth=4)
    assert len(truth) > 5
    for df in (events, events.withColumn("user_id", F.col("user_id").cast("int"))):
        probe = df.select("user_id").distinct()
        rows = estimate(probe, "user_id", sk).collect()
        got = {r["user_id"]: r["est_count"] for r in rows}
        assert got == truth


def test_parallelism_invariance_of_topk_set(spark, events):
    # different partitioning must agree within bound; uncontended -> equal
    a = topk(events.repartition(2), "event_type", k=5, width=1024, tie_break_key=True)
    b = topk(events.repartition(13), "event_type", k=5, width=1024, tie_break_key=True)
    assert {(r["item"], r["count"]) for r in a.collect()} == {
        (r["item"], r["count"]) for r in b.collect()
    }


def test_weighted_topk_by_group(spark):
    """weight_col through the grouped blob tree: top items by
    SUM(weight) per group, exact regime."""
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.topk import topk_by_group

    rows = []
    for g in ("a", "b"):
        for i in range(6):
            # weights make item order the REVERSE of occurrence order
            rows += [Row(g=g, item=f"x{i}", w=(6 - i) * 10 + (1 if g == "b" else 0))]
            rows += [Row(g=g, item=f"x{i}", w=1)]
    df = spark.createDataFrame(rows).repartition(4)
    got = topk_by_group(
        df, "g", "item", k=3, width=256, depth=4, weight_col="w"
    ).collect()
    by_group = {}
    for r in got:
        by_group.setdefault(r["group"], []).append((r["item"], r["count"]))
    assert by_group["a"] == [("x0", 61), ("x1", 51), ("x2", 41)]
    assert by_group["b"] == [("x0", 62), ("x1", 52), ("x2", 42)]


def test_weighted_topk_by_group_null_weight_rows_skipped(spark):
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.topk import topk_by_group

    rows = [
        Row(g="a", item="x", w=5),
        Row(g="a", item="x", w=None),
        Row(g="a", item="y", w=3),
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["group"], r["item"]): r["count"]
        for r in topk_by_group(
            df, "g", "item", k=5, width=64, depth=2, weight_col="w"
        ).collect()
    }
    assert got == {("a", "x"): 5, ("a", "y"): 3}


def test_topk_by_group_variants(spark):
    """The grouped blob tree runs every sketch layout (variant
    registry parity with the ungrouped path)."""
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.topk import topk_by_group

    rows = [
        Row(g=g, item=f"x{i % 4}")
        for g in ("a", "b")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows).repartition(4)
    want = {("a", f"x{i}"): 10 for i in range(4)} | {
        ("b", f"x{i}"): 10 for i in range(4)
    }
    for variant in ("bucketed", "cuckoo"):
        got = {
            (r["group"], r["item"]): r["count"]
            for r in topk_by_group(
                df, "g", "item", k=4, width=256, depth=4, variant=variant
            ).collect()
        }
        assert got == want, variant


class TestArrowTokenizer:
    """The object-free byte-level tokenizer must reproduce
    re.findall('[a-z]+', text.lower()) exactly on ASCII input and
    fall back to the str path otherwise."""

    def test_equivalence_adversarial(self):
        import re

        import numpy as np
        import pyarrow as pa

        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
        from heavykeeper_rs_spark.operators.topk import _feed, _feed_tokens_arrow

        docs = [
            "Hello World THE the", "", "abc", "xyz",  # empty doc between
            "a" * 70 + " ok",                          # over max_token_len
            "cat dog cat", "Dog!cat?dog", "end", "Zz",
            "trailingalpha", "alphaleading",           # boundary-touching runs
            None,                                       # null text
        ]
        col = pa.array(docs, type=pa.string())
        p = HKParams(k=20, width=512, depth=4, decay=0.9, seed=3)
        a = HeavyKeeper(p, rng=np.random.default_rng(1))
        assert _feed_tokens_arrow(a, col, 64, 3)
        b = HeavyKeeper(p, rng=np.random.default_rng(1))
        _feed(b, re.compile("[a-z]+"), [d for d in docs if d is not None], 64)
        la = {(k, c) for k, c in a.list()}
        lb = {
            (k if isinstance(k, bytes) else k.encode(), c) for k, c in b.list()
        }
        assert la == lb

    def test_non_ascii_falls_back(self):
        import numpy as np
        import pyarrow as pa

        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
        from heavykeeper_rs_spark.operators.topk import _feed_tokens_arrow

        sk = HeavyKeeper(HKParams(k=5, width=64, depth=2, decay=0.9, seed=1))
        assert _feed_tokens_arrow(sk, pa.array(["héllo world"]), 64, 1) is False
        assert _feed_tokens_arrow(sk, pa.array(["K elvin"]), 64, 1) is False

    def test_sliced_array_feeds_only_its_rows(self):
        """A sliced Arrow array shares its parent's data buffer: bytes
        outside the slice are neither tokenized nor ASCII-checked."""
        import numpy as np
        import pyarrow as pa

        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
        from heavykeeper_rs_spark.operators.topk import _feed_tokens_arrow

        p = HKParams(k=10, width=256, depth=4, decay=0.9, seed=3)
        for docs in (["alpha beta", "gamma", "delta epsilon"], ["héllo", "gamma", "wörld"]):
            sk = HeavyKeeper(p, rng=np.random.default_rng(1))
            assert _feed_tokens_arrow(sk, pa.array(docs).slice(1, 1), 64, 3)
            assert sk.list() == [(b"gamma", 1)]

    def test_fingerprints_merge_with_str_path(self):
        """A sketch built via the arrow tokenizer must merge exactly
        with one built via the str path (same hash family)."""
        import re

        import numpy as np
        import pyarrow as pa

        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
        from heavykeeper_rs_spark.operators.topk import _feed, _feed_tokens_arrow

        texts = [f"tok{chr(97 + i % 7)} common" for i in range(100)]
        p = HKParams(k=10, width=1024, depth=4, decay=0.9, seed=5)
        a = HeavyKeeper(p, rng=np.random.default_rng(1))
        assert _feed_tokens_arrow(a, pa.array(texts[:50]), 64, 5)
        b = HeavyKeeper(p, rng=np.random.default_rng(2))
        _feed(b, re.compile("[a-z]+"), texts[50:], 64)
        a.merge(b)
        truth = HeavyKeeper(p, rng=np.random.default_rng(3))
        _feed(truth, re.compile("[a-z]+"), texts, 64)
        assert {(k, c) for k, c in a.list()} == {
            (k if isinstance(k, bytes) else k.encode(), c)
            for k, c in truth.list()
        }


_LANE_KEYS = [f"k{v}" for v in np.minimum(np.random.default_rng(3).zipf(1.3, 3000), 400)]
_LANE_DOCS = [
    "The cat sat; the DOG sat too.", "", None, "a" * 70 + " tail cat",
    "dog2dog 42 cat", "Zebra zebra ZEBRA",
]


@pytest.mark.parametrize("layout", ["topk", "bucketed", "cuckoo"])
@pytest.mark.parametrize(
    "lane",
    ["string", "binary", "int64", "weighted-string", "weighted-int64",
     "tokens-ascii", "tokens-non-ascii", "tokens-custom-re"],
)
def test_every_lane_equals_the_object_lane(lane, layout):
    """Every feed (``_feed_keys`` over Arrow string, binary, int64 and
    weighted columns; ``_feed_tokens`` through its ASCII lane and its
    regex fallback) gives the same blob bytes as feeding the same rows,
    as Python objects, through ``add_batch``."""
    import re

    import pyarrow as pa

    from heavykeeper_rs_spark.kernel import HKParams
    from heavykeeper_rs_spark.operators.topk import _feed_keys, _feed_tokens, _make_sketch

    params = HKParams(k=16, width=64, depth=3, seed=11)
    rng = np.random.default_rng(5)
    n = len(_LANE_KEYS)
    weights = rng.integers(1, 9, n)
    if lane.startswith("tokens"):
        token_re = "[a-z0-9]+" if lane == "tokens-custom-re" else "[a-z]+"
        docs = _LANE_DOCS + (["caf\u00e9 cat"] if lane == "tokens-non-ascii" else [])
        batches = [pa.record_batch([pa.array(docs, type=pa.string())], ["__text"])]
        feed = _feed_tokens(token_re, 64, params.seed)
        rows = [t for d in docs if d for t in re.findall(token_re, d.lower()) if len(t) <= 64]
        wts = None
    else:
        keys = {
            "binary": [k.encode() for k in _LANE_KEYS],
            "int64": [int(k[1:]) - 200 for k in _LANE_KEYS],
            "weighted-int64": [int(k[1:]) - 200 for k in _LANE_KEYS],
        }.get(lane, _LANE_KEYS)
        keys = keys[:7] + [None] + keys[7:]  # a null key row is dropped
        wcol = [int(w) for w in weights[:7]] + [3] + [int(w) for w in weights[7:]]
        wcol[20] = None  # a null weight row is dropped
        cols = [pa.array(keys)]
        if lane.startswith("weighted"):
            cols.append(pa.array(wcol, type=pa.int64()))
        table = pa.table(cols, names=["__key", "__w"][: len(cols)])
        batches = table.to_batches(max_chunksize=1000)
        feed = _feed_keys(len(cols) == 2, params.seed)
        live = [i for i, k in enumerate(keys) if k is not None and (len(cols) == 1 or wcol[i] is not None)]
        rows = [keys[i] for i in live]
        wts = None if len(cols) == 1 else np.asarray([wcol[i] for i in live])
    lane_sk = _make_sketch(layout, params, np.random.default_rng(1))
    feed(lane_sk, iter(batches))
    obj_sk = _make_sketch(layout, params, np.random.default_rng(1))
    obj_sk.add_batch(rows, wts)
    assert lane_sk.list() and lane_sk.serialize() == obj_sk.serialize()


def test_topk_cube_and_grouping_sets(spark):
    """CUBE over two columns: every subset's per-group top-K is exact
    in the uncontended regime, including the grand total."""
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.topk import topk_cube

    rows = []
    for a in ("x", "y"):
        for b in ("1", "2"):
            for i in range(3):
                rows += [Row(a=a, b=b, item=f"k{i}")] * (3 - i)
    df = spark.createDataFrame(rows).repartition(4)
    got = topk_cube(df, ["a", "b"], "item", k=3, width=256, depth=4).collect()
    by = {}
    for r in got:
        by.setdefault(r["grouping"], {}).setdefault(r["group"], []).append(
            (r["item"], r["count"])
        )
    assert set(by) == {"a,b", "a", "b", "()"}
    assert by["a,b"]["x|1"] == [("k0", 3), ("k1", 2), ("k2", 1)]
    assert by["a"]["x"] == [("k0", 6), ("k1", 4), ("k2", 2)]
    assert by["b"]["1"] == [("k0", 6), ("k1", 4), ("k2", 2)]
    assert by["()"]["()"] == [("k0", 12), ("k1", 8), ("k2", 4)]


def test_build_vocab_exact(spark):
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.topk import build_vocab

    rows = [Row(text="aa bb aa cc aa bb"), Row(text="bb dd")]
    df = spark.createDataFrame(rows)
    vocab, cov = build_vocab(df, "text", 2, width=1024)
    got = [(r["item"], r["count"], r["rank"]) for r in vocab.collect()]
    assert got == [("aa", 3, 1), ("bb", 3, 2)]
    assert abs(cov - 6 / 8) < 1e-9
    # full vocab -> full coverage
    _, cov_all = build_vocab(df, "text", 10, width=1024)
    assert cov_all == 1.0


def test_flat_domain_candidate_pool_survives_partition_noise(spark):
    """100x-rehearsal regression (sf10 token gate): on a near-uniform
    domain the per-partition top-k is sampling noise, so the union of
    k-sized partial PQs misses true top-k members (~1-(1-k/D)^P). The
    _CANDIDATE_FLOOR overprovision must keep the distributed result
    equal to the exact oracle in the exact regime."""
    rng = np.random.default_rng(7)
    n_keys, base = 800, 300
    counts = np.full(n_keys, base, dtype=np.int64)
    counts[:10] += np.arange(12, 2, -1)  # true top-10, margins of 1-2
    keys = np.repeat(np.arange(n_keys), counts)
    rng.shuffle(keys)  # spread occurrences so partitions see noise
    df = (
        spark.createDataFrame(
            [(f"k{int(x):04d}",) for x in keys], "key string"
        ).repartition(32)
    )
    expect = [(f"k{i:04d}", int(counts[i])) for i in range(10)]
    got = [
        (r["item"], r["count"])
        for r in topk(
            df, "key", k=10, width=65536, depth=4, tie_break_key=True
        ).collect()
    ]
    assert got == expect
    # explicit candidates= is honored and still cuts the result to k
    got_wide = topk(
        df, "key", k=10, width=65536, depth=4, tie_break_key=True,
        candidates=1024,
    ).collect()
    assert len(got_wide) == 10
    assert [(r["item"], r["count"]) for r in got_wide] == expect
    # coverage must not decay across merge-tree LEVELS (fan_in=2 over
    # 32 partitions forces a 5-level tree) nor differ per layout
    for kwargs in (
        {"merge_groups": 2},
        {"variant": "bucketed"},
        {"variant": "cuckoo"},
    ):
        got_v = [
            (r["item"], r["count"])
            for r in topk(
                df, "key", k=10, width=65536, depth=4,
                tie_break_key=True, **kwargs,
            ).collect()
        ]
        assert got_v == expect, kwargs


def test_flat_domain_candidate_pool_by_group(spark):
    """The _CANDIDATE_FLOOR overprovision must also protect the
    grouped blob tree: per-(partition, group) partials sample the
    same union-of-PQs noise as the global operator."""
    from heavykeeper_rs_spark.operators.topk import topk_by_group

    rng = np.random.default_rng(11)
    n_keys, base = 400, 120
    counts = np.full(n_keys, base, dtype=np.int64)
    counts[:5] += np.arange(7, 2, -1)  # true top-5 per group
    rows = []
    for g in ("a", "b"):
        keys = np.repeat(np.arange(n_keys), counts)
        rng.shuffle(keys)
        rows += [(g, f"k{int(x):04d}") for x in keys]
    df = spark.createDataFrame(rows, "g string, key string").repartition(32)
    got = topk_by_group(df, "g", "key", k=5, width=65536, depth=4)
    by_group = {}
    for r in got.collect():
        by_group.setdefault(r["group"], []).append((r["item"], r["count"]))
    expect = [(f"k{i:04d}", int(counts[i])) for i in range(5)]
    assert by_group == {"a": expect, "b": expect}


def test_grouped_int_key_ties_order_as_strings(spark):
    """Grouped integer keys: ties order by the rendered item, as the
    SQL oracle orders the VARCHAR column ("10" before "9")."""
    from heavykeeper_rs_spark.operators.topk import topk_by_group

    rows = [("a", 9)] * 3 + [("a", 10)] * 3 + [("a", 8)] + [("b", 2)] * 2 + [("b", 11)] * 2
    df = spark.createDataFrame(rows, "g string, key bigint")
    got = topk_by_group(df, "g", "key", k=2, width=1024).collect()
    assert sorted((r["group"], r["item"], r["count"]) for r in got) == [
        ("a", "10", 3), ("a", "9", 3), ("b", "11", 2), ("b", "2", 2),
    ]
    got = topk_by_group(df, "g", "key", k=1, width=1024).collect()
    assert sorted((r["group"], r["item"]) for r in got) == [("a", "10"), ("b", "11")]


def test_grouped_builder_caps_live_sketches_within_batch():
    """One Arrow batch can carry more distinct groups than
    max_live_groups; the cap must hold INSIDE the batch loop (a
    between-batches check lets live memory spike to O(batch distinct
    groups)). Drives the grouped mode of ``combine.sketch_partials``
    with ``topk``'s feed. Asserts flushes happen mid-batch, the live
    count never exceeds the cap at any yield point, and the merged
    blobs still give exact counts."""
    import pyarrow as pa

    from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams, merge_blobs
    from heavykeeper_rs_spark.operators.combine import _group_partials
    from heavykeeper_rs_spark.operators.topk import _feed_keys

    params = HKParams(k=8, width=1024, depth=4, decay=0.9, seed=1)
    created = 0

    def new_sketch():
        nonlocal created
        created += 1
        return HeavyKeeper(params)

    cap = 8
    n_groups, reps = 100, 3
    groups = [f"g{i:03d}" for i in range(n_groups) for _ in range(reps)]
    vals = [f"v{i % 5}" for i in range(len(groups))]
    batch = pa.RecordBatch.from_pydict(
        {"g": pa.array(groups), "v": pa.array(vals)}
    )
    stage = _group_partials(
        iter([batch]), new_sketch, _feed_keys(False, params.seed), cap, salt=0
    )
    blobs: dict[str, list[bytes]] = {}
    mid_batch = 0
    flushed = 0
    for g, _, blob in stage:
        flushed += 1
        mid_batch += created < n_groups
        # live sketches = created - flushed; never above the cap + the
        # one group that triggered the flush
        assert created - flushed <= cap
        blobs.setdefault(g, []).append(blob)
    assert mid_batch, "cap never triggered a mid-batch flush"
    assert len(blobs) == n_groups and flushed == created
    # exact-regime correctness survives the eviction churn
    for g in ("g000", "g042", "g099"):
        sk = HeavyKeeper.deserialize(merge_blobs(blobs[g]))
        got = {it.decode(): c for it, c in sk.list()}
        # each group saw reps rows cycling v0..v4
        import collections
        exact = collections.Counter(
            f"v{i % 5}"
            for i, gg in enumerate(groups)
            if gg == g
        )
        assert got == dict(exact)
