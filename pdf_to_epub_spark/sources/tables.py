"""Test-table loaders for the driver-generated parquet at /root/testdata."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def load_table(spark: SparkSession, name: str, base_dir: str | None = None) -> DataFrame:
    return spark.read.parquet(f"{base_dir or sf_dir()}/{name}.parquet")
