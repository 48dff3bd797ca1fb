"""Write-side storage layout: partitioned and bucketed tables.

The driver's testdata is flat parquet; at 100 TB the same tables would be
laid out for pruning and shuffle-free joins:

- partition_by: hive-style directory partitioning on low-cardinality
  filter columns — queries filtering on the partition column read only the
  matching directories (static partition pruning; dynamic pruning handles
  join-derived filters).
- bucket_by: pre-shuffled layout on the join/agg key — two tables bucketed
  the same way join with zero exchange (the reference's indexes play this
  role for its lookup joins; buckets are the Spark-native equivalent).

These helpers are the engine's DDL-level story for `PARTITION BY` /
clustered tables; tests/test_plans.py proves the pruning shows up in the
physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    """Directory-partitioned parquet (reader prunes partitions on filter)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str,
                   n_buckets: int = 32, mode: str = "overwrite") -> None:
    """Bucketed managed table (co-located joins on bucket_col need no
    exchange). Requires a warehouse-backed catalog table — bucket metadata
    can't live in bare files."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )
