"""Entry-contract smoke tests: entry() runs and yields rows; every
queries() entry runs at sf0.001; binary flow keys flow through topk."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from heavykeeper_rs_spark.operators.topk import topk_sketch
from heavykeeper_rs_spark.sources.synth import flows


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"item", "count"}


def test_every_query_has_oracle_or_is_documented(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    rows_only = set(qs) - set(oracles)
    # rows-only entries must be the genuinely non-SQL-expressible ones
    assert rows_only <= {"simhash_near_dup_pairs", "embedding_near_dup"}


def test_token_leaf_names_share_one_plan():
    qs = entrymod.queries()
    assert qs["hk_topk_tokens"] is qs["hk_topk_tokens_inkernel"]


def test_weighted_leaf_reads_lineitem_once(spark):
    """The weighted leaf picks its plan without probing the input's
    size, so its only ``parquet`` job is its own read's schema job."""
    sc = spark.sparkContext
    group = "test-weighted-leaf-reads"
    sc.setJobGroup(group, "hk_weighted_topk_part")
    try:
        leaf = entrymod.queries()["hk_weighted_topk_part"]
        leaf(spark, "/root/testdata/sf0.01").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener events
    st = sc.statusTracker()
    # a job's name is its result stage's, the last one it created
    names = [st.getStageInfo(max(st.getJobInfo(j).stageIds)).name
             for j in st.getJobIdsForGroup(group)]
    assert sum(n.startswith("parquet at") for n in names) == 1, names


@pytest.mark.slow
def test_all_queries_run_at_sf0001(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_binary_flow_keys_topk(spark):
    """ip_files analog: 13-byte binary keys through the sketch."""
    fl = flows(spark, 20000, n_flows=500, alpha=2.0, partitions=4)
    sample = fl.limit(1).collect()[0]["flow_key"]
    assert len(sample) == 13
    sk = topk_sketch(fl, "flow_key", k=10, width=8192, depth=4)
    top = sk.list()
    assert len(top) == 10
    assert all(isinstance(item, bytes) and len(item) == 13 for item, _ in top)
    truth = {
        bytes(r["flow_key"]): r["cnt"]
        for r in fl.groupBy("flow_key")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"))
        .limit(10)
        .collect()
    }
    got = dict(top)
    hits = sum(1 for k in truth if k in got)
    assert hits >= 9  # power-law head: near-perfect recall

    est = sk.estimate(np.asarray(list(truth), dtype=object))
    for (k, v), e in zip(truth.items(), est):
        assert abs(int(e) - v) <= max(2, 0.01 * v)


def test_grouped_blob_tree_multilevel(spark):
    """partitions >> fan_in exercises the intermediate
    groupBy(group, salt // fan_in) merge levels; results must equal the
    single-level path and the exact answer (exact regime)."""
    from pyspark.sql import functions as F

    from heavykeeper_rs_spark.operators.topk import topk_by_group

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .repartition(20)
        .withColumn("bucket", (F.col("user_id") % 3).cast("string"))
    )
    got = topk_by_group(ev, "bucket", "event_type", k=2, width=1024, depth=4, fan_in=4)
    rows = {(r["group"], r["item"], r["count"]) for r in got.collect()}
    exact = (
        ev.groupBy("bucket", "event_type")
        .agg(F.count("*").alias("count"))
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "bucket"
                ).orderBy(F.desc("count"), "event_type")
            ),
        )
        .filter("rn <= 2")
    )
    want = {(r["bucket"], r["event_type"], r["count"]) for r in exact.collect()}
    assert rows == want


def test_grouped_builder_bounded_memory_eviction(spark):
    """max_live_groups far below the group count forces early partial
    emission + LRU eviction; the merge tree must still produce exact
    results (exact regime) — high-cardinality group keys cost bounded
    mapper memory."""
    from pyspark.sql import functions as F

    from heavykeeper_rs_spark.operators.topk import topk_by_group

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "bucket", (F.col("user_id") % 50).cast("string")
    )
    got = topk_by_group(
        ev, "bucket", "event_type", k=2, width=1024, depth=4, max_live_groups=8
    )
    rows = {(r["group"], r["item"], r["count"]) for r in got.collect()}
    from pyspark.sql.window import Window

    exact = (
        ev.groupBy("bucket", "event_type")
        .agg(F.count("*").alias("count"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("bucket").orderBy(F.desc("count"), "event_type")
            ),
        )
        .filter("rn <= 2")
    )
    want = {(r["bucket"], r["event_type"], r["count"]) for r in exact.collect()}
    assert rows == want


def test_flow_key_assembly_matches_scalar_reference(spark):
    """The r7 vectorized byte-view key assembly must be bit-identical
    to the original per-row to_bytes construction (same splitmix ->
    zipf fid derivation, recomputed scalar here)."""
    import numpy as np

    n, n_flows, alpha, seed = 512, 100, 2.0, 7
    got = [bytes(r["flow_key"])
           for r in flows(spark, n, n_flows=n_flows, alpha=alpha, seed=seed,
                          partitions=1).collect()]
    frng = np.random.default_rng(seed)
    flow_ids = frng.integers(0, 2**63, n_flows, dtype=np.int64)
    ranks = np.arange(1, n_flows + 1, dtype=np.float64)
    cdf = np.cumsum(ranks**-alpha)
    cdf /= cdf[-1]
    ids = np.arange(n, dtype=np.uint64)
    x = ids ^ np.uint64((seed * 0x9E3779B97F4A7C15 + 99) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    u = (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    fid = flow_ids[np.searchsorted(cdf, u, side="left")]
    want = []
    for f in fid:
        b = int(f).to_bytes(8, "big")
        proto = b"\x06" if (f & 1) else b"\x11"
        want.append(b[:4] + b[4:6] + b[4:8] + b[6:8] + proto)
    assert got == want
