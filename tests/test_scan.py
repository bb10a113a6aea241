"""Scan sizing (operators/scan.py): input bytes from Spark's file index,
row groups from parquet footers on any pyarrow filesystem, the one
fan-out decision, and the gate of the direct parquet reader."""

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest

from heavykeeper_rs_spark.kernel import HKParams
from heavykeeper_rs_spark.operators import scan
from heavykeeper_rs_spark.operators.scan import ScanProfile, fan_out
from heavykeeper_rs_spark.operators.topk import topk_partials


def _write(path, n_rows, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"x": list(range(n_rows))}), path, row_group_size=row_group_size
    )


def _round_robin(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


def test_bytes_single_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, 5000)
    assert ScanProfile(spark.read.parquet(path)).bytes == os.path.getsize(path)


def test_bytes_hive_partitioned_dir(spark, tmp_path):
    root = tmp_path / "hive"
    for p in range(3):
        _write(str(root / f"p={p}" / "part-0.parquet"), 1000 * (p + 1))
    on_disk = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )
    df = spark.read.parquet(str(root)).filter("x > 5")
    assert ScanProfile(df).bytes == on_disk


def test_bytes_unknown_for_non_file_leaf(spark):
    assert ScanProfile(spark.range(10)).bytes is None


def test_fan_out_single_row_group_scan(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    _write(path, 2000)
    df = spark.read.parquet(path).select("x")
    assert ScanProfile(df).row_groups == 1
    assert _round_robin(fan_out(df, min_bytes=0))
    assert not _round_robin(fan_out(df))  # below the default floor


def test_fan_out_limit_slice_uses_exact_partitions(spark, tmp_path):
    """A limit slice is one partition whatever its file has: the exact
    partition count decides, not the row groups."""
    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "many_rg.parquet")
    _write(path, 100 * par, row_group_size=100)
    df = spark.read.parquet(path)
    assert ScanProfile(df).row_groups == par
    assert not _round_robin(fan_out(df, min_bytes=0))
    sliced = df.orderBy("x").limit(50)
    prof = ScanProfile(sliced)
    assert prof.tasks == sliced._jdf.rdd().getNumPartitions() == 1
    assert _round_robin(fan_out(sliced, min_bytes=0))


def test_fan_out_skips_many_file_dir(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    root = tmp_path / "many"
    for i in range(par):
        _write(str(root / f"part-{i}.parquet"), 100)
    df = spark.read.parquet(str(root))
    prof = ScanProfile(df)
    assert len(prof.files) == par and prof.row_groups is None
    assert not _round_robin(fan_out(df, min_bytes=0))


def test_footer_reader_remote_uri(monkeypatch, tmp_path):
    _write(str(tmp_path / "bucket" / "t" / "a.parquet"), 300, row_group_size=100)
    _write(str(tmp_path / "bucket" / "t" / "b.parquet"), 200, row_group_size=100)
    local = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    monkeypatch.setattr(scan, "_filesystem", lambda uri: (local, uri.split("://", 1)[1]))
    footers = scan._footers(["s3://bucket/t/a.parquet", "s3://bucket/t/b.parquet"])
    assert [len(f) for f in footers] == [3, 2]


def test_unreadable_scheme_fails_safe(spark, monkeypatch, tmp_path):
    uri = "hdfs://localhost:1/t/x.parquet"
    with pytest.warns(RuntimeWarning, match=uri):
        assert scan._footers([uri]) is None
    # the same file behind an unreadable scheme: no fan-out, one warning
    path = str(tmp_path / "one.parquet")
    _write(path, 2000)
    df = spark.read.parquet(path).select("x")
    monkeypatch.setattr(ScanProfile, "files", property(lambda self: [uri]))
    with pytest.warns(RuntimeWarning, match=uri):
        assert not _round_robin(fan_out(df, min_bytes=0))


# ------------------------------------------------ direct reader gate

def _typed_table(n=200):
    return pa.table(
        {
            "x": pa.array(range(n), pa.int64()),
            "i": pa.array(range(n), pa.int32()),
            "d": pa.array([v / 3 for v in range(n)], pa.float64()),
            "s": pa.array([f"s{v % 7}" for v in range(n)]),
            "b": pa.array([bytes([v % 5]) * 13 for v in range(n)]),
            "w": pa.array([v % 3 + 1 for v in range(n)], pa.int64()),
        }
    )


def _partials(df, col, weight_col=None):
    return topk_partials(df, col, HKParams(k=8, width=256, depth=4), weight_col)


def _plan(partials) -> str:
    return partials.frame._jdf.queryExecution().executedPlan().toString()


def _partials_plan(df, col, weight_col=None) -> str:
    return _plan(_partials(df, col, weight_col))


@pytest.fixture
def typed_dir(tmp_path):
    root = tmp_path / "typed"
    root.mkdir()
    pq.write_table(_typed_table(), str(root / "part-0.parquet"))
    return str(root)


def _filter(spark, d):
    return spark.read.parquet(d).filter("x > 5"), "x"


def _hive(spark, d):
    root = os.path.join(os.path.dirname(d), "hive")
    for p in range(2):
        os.makedirs(f"{root}/p={p}")
        pq.write_table(_typed_table(), f"{root}/p={p}/part-0.parquet")
    return spark.read.parquet(root), "x"


def _csv(spark, d):
    path = os.path.join(os.path.dirname(d), "t.csv")
    with open(path, "w") as f:
        f.write("x\n" + "\n".join(map(str, range(50))) + "\n")
    return spark.read.option("header", "true").schema("x bigint").csv(path), "x"


def _double_to_string(spark, d):
    return spark.read.parquet(d), "d"  # the key rule casts double to string


def _merge_schema(spark, d):
    return spark.read.option("mergeSchema", "true").parquet(d), "x"


def _s3(spark, d, monkeypatch):
    root = os.path.dirname(d)
    local = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
    monkeypatch.setattr(scan, "_filesystem", lambda uri: (local, uri.split("://", 1)[1]))
    monkeypatch.setattr(
        ScanProfile, "files", property(lambda self: ["s3://typed/part-0.parquet"])
    )
    return spark.read.parquet(d), "x"


@pytest.mark.parametrize(
    "shape", [_filter, _hive, _csv, _double_to_string, _merge_schema, "binaryAsString", _s3]
)
def test_spark_reader_kept(spark, typed_dir, monkeypatch, shape):
    """Plans the direct reader cannot prove equal to Spark's read keep
    the FileScan."""
    if shape == "binaryAsString":
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        try:
            plan = _partials_plan(spark.read.parquet(typed_dir), "x")
        finally:
            spark.conf.unset("spark.sql.parquet.binaryAsString")
    elif shape is _s3:
        plan = _partials_plan(*_s3(spark, typed_dir, monkeypatch))
    else:
        plan = _partials_plan(*shape(spark, typed_dir))
    assert "FileScan" in plan


@pytest.mark.parametrize(
    "col,weight_col", [("x", None), ("i", None), ("s", None), ("b", None), ("x", "w")]
)
def test_direct_reader_taken(spark, typed_dir, col, weight_col):
    """A plain bigint, int32→bigint widening, string, binary and the
    weighted (__key, __w) pair read with pyarrow in the worker: the
    stage reads directly, and its rows' plan is the RDD of its tasks,
    with no FileScan or file relation."""
    partials = _partials(spark.read.parquet(typed_dir), col, weight_col)
    plan = _plan(partials)
    assert partials.direct
    assert "ExistingRDD" in plan and "FileScan" not in plan and "Relation" not in plan
