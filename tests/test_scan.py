"""Scan sizing (operators/scan.py): input bytes from Spark's file index,
row groups from parquet footers on any pyarrow filesystem, and the one
fan-out decision."""

import os

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest

from heavykeeper_rs_spark.operators import scan
from heavykeeper_rs_spark.operators.scan import ScanProfile, fan_out, footer_row_groups


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
    assert footer_row_groups(["s3://bucket/t/a.parquet", "s3://bucket/t/b.parquet"]) == 5


def test_unreadable_scheme_fails_safe(spark, monkeypatch, tmp_path):
    uri = "hdfs://localhost:1/t/x.parquet"
    with pytest.warns(RuntimeWarning, match=uri):
        assert footer_row_groups([uri]) is None
    # the same file behind an unreadable scheme: no fan-out, one warning
    path = str(tmp_path / "one.parquet")
    _write(path, 2000)
    df = spark.read.parquet(path).select("x")
    monkeypatch.setattr(ScanProfile, "files", property(lambda self: [uri]))
    with pytest.warns(RuntimeWarning, match=uri):
        assert not _round_robin(fan_out(df, min_bytes=0))
