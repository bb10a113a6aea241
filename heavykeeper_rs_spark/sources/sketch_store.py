"""Persisted sketch tables — build once, probe many times.

At 10^12 rows the expensive artifact is the MERGED sketch, not the
query against it: a curation platform builds the corpus top-K (or the
per-group sketch table) in one pass, persists it, and every downstream
job probes the blobs without touching the rows again. These helpers
make that a first-class shape:

- ``save_sketch`` / ``load_sketch``: one merged sketch as a single-row
  parquet (blob + JSON metadata), written through Spark so the path
  can be S3/HDFS.
- ``save_grouped_sketches`` / ``load_grouped_sketches``: a (group,
  sketch) DataFrame — e.g. ``sketch_blobs_by_group`` output — as a
  parquet sketch table; loading returns the DataFrame for further
  joins, and ``load_group`` revives one group's sketch.

Blobs are the repo's restricted non-executable codec (serde.py), so a
tampered store raises ValueError instead of executing anything.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..variants import deserialize_any


def save_sketch(spark: SparkSession, sk, path: str, meta: dict | None = None) -> None:
    """Persist one merged sketch (any serializable family) + metadata."""
    from ..operators.topk import local_result_df

    row = [(bytearray(sk.serialize()), json.dumps(meta or {}), type(sk).__name__)]
    local_result_df(
        spark, row, "sketch binary, meta string, sketch_type string"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_sketch(spark: SparkSession, path: str):
    """Revive a sketch saved by ``save_sketch``; returns (sketch, meta).
    The magic-sniffing registry (``variants.deserialize_any``) knows
    every built-in family."""
    rows = spark.read.parquet(path).collect()
    if len(rows) != 1:
        raise ValueError(f"sketch store at {path} has {len(rows)} rows, expected 1")
    return deserialize_any(bytes(rows[0]["sketch"])), json.loads(rows[0]["meta"])


def save_grouped_sketches(blobs_df: DataFrame, path: str) -> None:
    """Persist a (group, sketch) DataFrame (``sketch_blobs_by_group``
    output) as a parquet sketch table."""
    blobs_df.select("group", "sketch").write.mode("overwrite").parquet(path)


def load_grouped_sketches(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def load_group(spark: SparkSession, path: str, group: str):
    """Revive ONE group's sketch from a grouped store — a pushed-down
    point lookup (the scan prunes to the matching row group)."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(path).filter(F.col("group") == group).limit(2).collect()
    )
    if not rows:
        raise KeyError(f"group {group!r} not in sketch store {path}")
    if len(rows) > 1:
        raise ValueError(
            f"sketch store {path} holds multiple blobs for group {group!r} "
            "(double-written store?) — refusing to pick one arbitrarily"
        )
    return deserialize_any(bytes(rows[0]["sketch"]))
