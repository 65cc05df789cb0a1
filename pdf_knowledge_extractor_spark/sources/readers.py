"""Table readers for the driver-provided parquet tables and the
synthetic source-code corpus.

At real scale these would be ``spark.read.format("iceberg")`` table
loads; the Iceberg runtime jar is not in this image, so parquet paths
stand in (the engine's operators are storage-agnostic DataFrames).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition a source up to the session's default parallelism
    when it arrives under-split (a small corpus in one parquet file is
    ONE input split, serializing every heavy per-row projection above
    it onto one core). At production scale sources carry >= parallelism
    splits and this is a no-op — no shuffle is added."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
