"""The direct parquet reader of the sketch partial stages
(``scan.direct_scan``): over a multi-file fixture with null keys, empty
files, a file without the key column and a file whose key column name
differs only in case, every operator built on ``combine.sketch_partials``, grouped or not,
must give DuckDB's exact answer, as Spark's own reader does."""

import contextlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from heavykeeper_rs_spark.kernel import HKParams
from heavykeeper_rs_spark.operators import combine, scan
from heavykeeper_rs_spark.operators.agg import (
    agg_keyed,
    cms_build,
    hll_build,
    hll_distinct_by_group,
)
from heavykeeper_rs_spark.operators.topk import (
    topk,
    topk_by_group,
    topk_keyed,
    topk_partials,
    topk_sketch,
    topk_tokens,
)
from heavykeeper_rs_spark.sketches.hll import HLL

SCHEMA = "k bigint, w bigint, s string, t string"
WORDS = ["alpha", "beta", "gamma", "delta", "Epsilon", "zeta"]


def _part(rng, n, key="k", with_key=True):
    k = rng.integers(0, 40, n).astype(np.int64)
    cols = {}
    if with_key:
        cols[key] = pa.array(k, mask=rng.random(n) < 0.1)  # null keys
    cols["w"] = pa.array(rng.integers(1, 5, n).astype(np.int64))
    cols["s"] = pa.array([f"v{v}" if v % 9 else None for v in k], pa.string())
    cols["t"] = pa.array(
        [" ".join(rng.choice(WORDS, 3)) + f" x{v % 4}" for v in k], pa.string()
    )
    return pa.table(cols)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """Files a–d hold rows; e is a 0-row parquet file, f a 0-byte file,
    c lacks the key column, d spells it ``K``; a has 3 row groups."""
    root = tmp_path_factory.mktemp("direct")
    rng = np.random.default_rng(5)
    pq.write_table(_part(rng, 3000), root / "a.parquet", row_group_size=1000)
    pq.write_table(_part(rng, 2000), root / "b.parquet")
    pq.write_table(_part(rng, 500, with_key=False), root / "c.parquet")
    pq.write_table(_part(rng, 700, key="K"), root / "d.parquet")
    pq.write_table(_part(rng, 0), root / "e.parquet")
    (root / "f.parquet").write_bytes(b"")
    return str(root)


@pytest.fixture(scope="module")
def rows(fixture_dir):
    """All rows as Spark reads them: a missing key is null, ``K`` is ``k``."""
    tables = []
    for name in sorted(os.listdir(fixture_dir)):
        path = os.path.join(fixture_dir, name)
        if os.path.getsize(path):
            t = pq.read_table(path)
            t = t.rename_columns(["k" if c == "K" else c for c in t.column_names])
            if "k" not in t.column_names:
                t = t.append_column("k", pa.nulls(t.num_rows, pa.int64()))
            tables.append(t.select(["k", "w", "s", "t"]))
    return pa.concat_tables(tables)


def _exact(rows, sql):
    con = duckdb.connect()
    con.register("rows", rows)
    return con.execute(sql).fetchall()


@pytest.fixture(scope="module")
def df(spark, fixture_dir):
    df = spark.read.schema(SCHEMA).parquet(fixture_dir)
    assert scan.direct_scan(df.select(df.k.alias("__key"))) is not None
    return df


def test_batches_are_what_spark_reads(spark, df):
    """The direct reader's batches hold exactly the rows Spark's reader
    returns for the keyed projection, under its names and Arrow types,
    at most ``maxRecordsPerBatch`` rows each."""
    keyed = topk_keyed(df, "k", "w")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        direct = scan.direct_scan(keyed)
    finally:
        spark.conf.set(key, before)
    batches = list(direct.read(range(len(direct.tasks))))
    assert {b.schema for b in batches} == {pa.schema([("__key", pa.int64()), ("__w", pa.int64())])}
    assert max(b.num_rows for b in batches) == direct.batch_rows == 300
    got = pa.Table.from_batches(batches).to_pylist()
    want = [r.asDict() for r in keyed.collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def _topk_rows(out):
    return [(r["item"], r["count"]) for r in out.collect()]


def test_topk_equals_exact(df, rows):
    exact = _exact(
        rows,
        "SELECT CAST(k AS VARCHAR), count(*) AS n FROM rows WHERE k IS NOT NULL "
        "GROUP BY 1 ORDER BY n DESC, 1 LIMIT 10",
    )
    assert _topk_rows(topk(df, "k", k=10, width=4096, tie_break_key=True)) == exact


def test_weighted_topk_equals_exact(df, rows):
    exact = _exact(
        rows,
        "SELECT CAST(k AS VARCHAR), sum(w) AS n FROM rows WHERE k IS NOT NULL "
        "GROUP BY 1 ORDER BY n DESC, 1 LIMIT 10",
    )
    got = _topk_rows(topk(df, "k", k=10, width=4096, weight_col="w", tie_break_key=True))
    assert got == [(k, int(n)) for k, n in exact]


def test_topk_tokens_equals_exact(df, rows):
    exact = _exact(
        rows,
        "SELECT tok, count(*) AS n FROM (SELECT unnest(regexp_extract_all(lower(t), "
        "'[a-z]+')) AS tok FROM rows) GROUP BY 1 ORDER BY n DESC, 1 LIMIT 8",
    )
    assert _topk_rows(topk_tokens(df, "t", k=8, width=4096, tie_break_key=True)) == exact


def test_hll_equals_one_sketch_of_every_row(df, rows):
    """HLL registers are a max over rows, so the merged partials equal
    one sketch fed every non-null value."""
    ref = HLL(12, 7)
    ref.add_batch(rows["s"].drop_null().to_numpy(zero_copy_only=False))
    got = hll_build(df, "s", p=12, seed=7)
    assert got.serialize() == ref.serialize()
    (distinct,) = _exact(rows, "SELECT count(DISTINCT s) FROM rows")[0]
    assert abs(got.estimate() - distinct) <= 0.05 * distinct


def test_cms_equals_exact(df, rows):
    exact = _exact(rows, "SELECT s, count(*) FROM rows WHERE s IS NOT NULL GROUP BY 1")
    cms = cms_build(df, "s", width=4096, depth=4)
    keys = np.asarray([k for k, _ in exact], dtype=object)
    assert cms.estimate(keys).tolist() == [n for _, n in exact]


def test_widened_file_reads_like_spark(spark, tmp_path):
    """An int32 file under a bigint column widens, as Spark's reader
    does; the partial stage still reads it directly."""
    pq.write_table(pa.table({"k": pa.array([1, 2, 2], pa.int64())}), tmp_path / "a.parquet")
    pq.write_table(pa.table({"k": pa.array([2, 3], pa.int32())}), tmp_path / "b.parquet")
    df = spark.read.schema("k bigint").parquet(str(tmp_path))
    assert scan.direct_scan(df.select(df.k.alias("__key"))) is not None
    want = sorted((str(r.k), r.n) for r in df.groupBy("k").count().withColumnRenamed("count", "n").collect())
    assert sorted(_topk_rows(topk(df, "k", k=10))) == want


def test_mismatched_file_type_names_the_file(spark, tmp_path):
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), tmp_path / "a.parquet")
    pq.write_table(pa.table({"k": pa.array(["7"])}), tmp_path / "bad.parquet")
    df = spark.read.schema("k bigint").parquet(str(tmp_path))
    assert scan.direct_scan(df.select(df.k.alias("__key"))) is not None
    with pytest.raises(Exception, match="bad.parquet"):
        topk(df, "k", k=3)


@pytest.mark.parametrize("good_files", ["one", "par"])
def test_corrupt_file_names_the_file(spark, tmp_path, good_files):
    """With fewer files than cores the driver's footer read fails safe
    to Spark's reader; with more, the worker's read raises. Either way
    the error names the file."""
    n = 1 if good_files == "one" else spark.sparkContext.defaultParallelism
    for i in range(n):
        pq.write_table(pa.table({"k": pa.array(range(50), pa.int64())}), tmp_path / f"{i}.parquet")
    (tmp_path / "torn.parquet").write_bytes(b"PAR1 not a footer")
    df = spark.read.schema("k bigint").parquet(str(tmp_path))
    footer = pytest.warns(RuntimeWarning, match="torn.parquet")
    with footer if n == 1 else contextlib.nullcontext():
        assert (scan.direct_scan(df.select(df.k.alias("__key"))) is None) == (n == 1)
        with pytest.raises(Exception, match="torn.parquet"):
            topk(df, "k", k=3)


def test_row_group_units_make_exact_partial_count(spark, tmp_path):
    """One file of 8 row groups: one read unit per row group, and the
    partial stage emits one blob per task, min(8, tasks)."""
    path = str(tmp_path / "rg.parquet")
    pq.write_table(pa.table({"k": pa.array(np.arange(8000), pa.int64())}), path,
                   row_group_size=1000)
    df = spark.read.parquet(path)
    partials = topk_partials(df, "k", HKParams(k=8, width=512, depth=4))
    par = spark.sparkContext.defaultParallelism
    assert partials.direct and partials.n_parts == min(8, par)
    assert partials.rdd.count() == min(8, partials.n_parts)


def test_driver_final_topk_is_one_rdd_job(spark, df):
    """With no merge level to run (``n_parts`` <= ``merge_groups``), a
    ``topk_sketch`` over the direct reader runs exactly one Spark job,
    of ``n_parts`` tasks, and starts no SQL execution."""
    sc = spark.sparkContext
    n_parts = topk_partials(df, "k", HKParams(k=8, width=512, depth=4)).n_parts
    assert not combine.tree_levels(n_parts, 64)
    executions = spark._jsparkSession.sharedState().statusStore()
    before = executions.executionsCount()
    sc.setJobGroup("direct-final", "driver-final topk_sketch")
    try:
        topk_sketch(df, "k", k=8, width=512)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("direct-final")
    assert [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(job).stageIds] == [n_parts]
    assert executions.executionsCount() == before


def test_merge_level_over_direct_read_equals_exact(spark, tmp_path):
    """``merge_groups=2`` over a 4-task direct read runs one tree level,
    over ``createDataFrame`` of the stage's RDD, and equals DuckDB's
    exact counts."""
    rng = np.random.default_rng(11)
    keys = pa.array(rng.integers(0, 30, 4000), mask=rng.random(4000) < 0.05)
    path = str(tmp_path / "rg.parquet")
    pq.write_table(pa.table({"k": keys}), path, row_group_size=1000)
    df = spark.read.parquet(path)
    partials = topk_partials(df, "k", HKParams(k=8, width=512, depth=4))
    assert partials.direct and partials.n_parts == 4
    assert combine.tree_levels(partials.n_parts, 2) == 1
    exact = _exact(
        pq.read_table(path),
        "SELECT CAST(k AS VARCHAR), count(*) AS n FROM rows WHERE k IS NOT NULL "
        "GROUP BY 1 ORDER BY n DESC, 1 LIMIT 10",
    )
    got = topk(df, "k", k=10, width=4096, tie_break_key=True, merge_groups=2)
    assert _topk_rows(got) == exact


def test_grouped_gate(spark, df, tmp_path):
    """A grouped projection of plain columns is read directly: a string
    group with an int key (and its bigint weight), or with the agg
    family's string values. A computed group or a double weight cast to
    bigint keeps Spark's reader."""
    assert scan.direct_scan(topk_keyed(df, "k", "w", group_col="s")) is not None
    assert scan.direct_scan(agg_keyed(df, "t", group_col="s")) is not None
    computed = df.withColumn("g", F.upper("s"))
    assert scan.direct_scan(topk_keyed(computed, "k", group_col="g")) is None
    pq.write_table(
        pa.table({"g": ["a", "b"], "k": pa.array([1, 2], pa.int64()), "w": [1.5, 2.0]}),
        tmp_path / "d.parquet",
    )
    doubles = spark.read.parquet(str(tmp_path))
    assert scan.direct_scan(topk_keyed(doubles, "k", group_col="g")) is not None
    assert scan.direct_scan(topk_keyed(doubles, "k", "w", group_col="g")) is None


def test_topk_by_group_equals_exact(df, rows):
    """Per-group top-k over the direct reader: null groups render
    ``None``, null keys are skipped, ties order by the rendered key."""
    assert scan.direct_scan(topk_keyed(df, "k", group_col="s")) is not None
    exact = _exact(
        rows,
        "SELECT g, item, n FROM (SELECT coalesce(s, 'None') AS g, "
        "CAST(k AS VARCHAR) AS item, count(*) AS n FROM rows WHERE k IS NOT NULL "
        "GROUP BY 1, 2) QUALIFY row_number() OVER (PARTITION BY g ORDER BY n DESC, "
        "item) <= 3 ORDER BY g, n DESC, item",
    )
    got = topk_by_group(df, "s", "k", k=3, width=4096)
    got = [(r["group"], r["item"], r["count"]) for r in got.orderBy("group", F.desc("count"), "item").collect()]
    assert got == exact
    assert "None" in {g for g, _, _ in got}


def test_hll_by_group_equals_one_sketch_per_group(df, rows):
    """Each group's merged HLL equals one sketch fed every non-null
    value of that group (the null group as ``None``)."""
    assert scan.direct_scan(agg_keyed(df, "t", group_col="s")) is not None
    got = {r["group"]: r["n_distinct_est"] for r in hll_distinct_by_group(df, "s", "t", p=12, seed=7).collect()}
    want = {}
    exact = dict(_exact(rows, "SELECT coalesce(s, 'None'), count(DISTINCT t) FROM rows GROUP BY 1"))
    for g in exact:
        ref = HLL(12, 7)
        vals = [t for s, t in zip(rows["s"].to_pylist(), rows["t"].to_pylist()) if (s or "None") == g]
        ref.add_batch(np.asarray([v for v in vals if v is not None], dtype=object))
        want[g] = ref.estimate()
    assert got == want
    assert all(abs(got[g] - n) <= 0.05 * n for g, n in exact.items())


def test_grouped_null_group_and_all_null_values(spark, tmp_path):
    """Over the direct reader, a null group renders ``None``, and a
    group whose values are all null still appears (as under SQL GROUP
    BY), with no items in its top-k and a zero distinct estimate."""
    pq.write_table(
        pa.table(
            {
                "g": ["a", "a", None, "b", "b", None],
                "v": ["x", "y", "x", None, None, "z"],
            }
        ),
        tmp_path / "g.parquet",
    )
    df = spark.read.parquet(str(tmp_path))
    assert scan.direct_scan(agg_keyed(df, "v", group_col="g")) is not None
    hll = {r["group"]: r["n_distinct_est"] for r in hll_distinct_by_group(df, "g", "v").collect()}
    assert set(hll) == {"a", "b", "None"}
    assert hll["b"] == 0.0
    assert round(hll["a"]) == round(hll["None"]) == 2
    top = {(r["group"], r["item"], r["count"]) for r in topk_by_group(df, "g", "v", k=2).collect()}
    assert top == {("a", "x", 1), ("a", "y", 1), ("None", "x", 1), ("None", "z", 1)}


def test_grouped_final_folds_at_most_fan_in(spark):
    """With more Spark partitions than the estimate (repartition(20)),
    grouped salts wrap modulo ``n_parts``, so no group hands more than
    ``fan_in`` blobs to its final."""
    ev = spark.range(6000).select(
        (F.col("id") % 3).cast("string").alias("bucket"), (F.col("id") % 7).alias("key")
    ).repartition(20)
    partials = topk_partials(ev, "key", HKParams(k=4, width=256, depth=4), group_col="bucket")
    assert partials.frame.agg(F.max("salt")).collect()[0][0] < partials.n_parts
    tree = combine.blob_tree(partials.frame, partials.n_parts, 4, keys=("group",))
    per_group = tree.groupBy("group").count().collect()
    assert len(per_group) == 3
    assert max(r["count"] for r in per_group) <= 4
