"""Relational-spatial + training-data operators (SURVEY.md §2 / §7)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def _spread_scan(df: DataFrame) -> DataFrame:
    """Repartition df to the cluster's default parallelism when it has
    fewer partitions: a one-split scan would run the per-row UDF that
    follows on a single task. Scale-adaptive — an input that already
    scans as many splits passes through unchanged."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df
