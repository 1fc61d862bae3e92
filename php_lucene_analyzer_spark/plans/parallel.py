"""Scan-parallelism floor for map-heavy operators (guide §2/§6).

A single-row-group parquet file scans as 1-2 splits no matter how many
cores the session has (parquet splits at row-group granularity, and
``spark.sql.files.minPartitionNum`` cannot cut inside a row group), so
every expensive narrow stage downstream of such a scan — tokenize +
explode, per-shingle hashing, Arrow-batched Python kernels — runs on
1-2 tasks.  ``spread_input`` inserts one round-robin repartition to the
session's default parallelism when (and only when) the input has fewer
partitions, so compute-bound map stages use the whole machine.

Scale behaviour: at production inputs (many files / many row groups) a
scan already yields >= cores splits and this is a NO-OP — the check is
on the actual partition count, never a constant tuned to local mode.
Results are unaffected: every caller applies it upstream of row-wise
maps and key-based aggregations, both partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` round-robin to the session's defaultParallelism
    iff it currently has fewer partitions.  No-op otherwise — see module
    docstring."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
