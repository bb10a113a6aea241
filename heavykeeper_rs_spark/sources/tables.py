"""Table loading helpers for the driver-provided parquet test data.

At production scale these would be Iceberg table identifiers; the scan
API is identical (``spark.read.parquet`` ↔ ``spark.read.table``), and
everything downstream is format-agnostic DataFrame code, so partition
pruning / column pruning carry over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
