"""Bucketed (co-located) joins: pre-shuffle once at write time, join
shuffle-free forever after.

A fact-fact join (lineitem ⋈ orders on orderkey) shuffles BOTH sides
every query. At 100 TB that exchange dominates the job. Bucketing writes
each table hash-partitioned into a fixed number of buckets on the join
key (`bucketBy` + `saveAsTable`); Spark records the bucket spec in the
catalog, and any subsequent equi-join (or aggregation) on the bucket
columns reuses the stored partitioning — the plan contains **zero
Exchange nodes** (asserted in tests/test_bucketing.py).

This is the Spark-native equivalent of co-located storage layouts in
distributed warehouses; the reference has no analog (single-node, one
Delta table). Rules of thumb at scale:

- bucket count ≈ target parallelism at the biggest SF (and it must match
  on both sides for the co-located join to kick in);
- also ``sortBy`` the bucket key so the join degenerates to a merge of
  pre-sorted runs (no per-task sort);
- repartition to the bucket count before writing to avoid tiny files
  (each writing task emits one file per bucket it touches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a catalog table bucketed (and sorted) on
    ``bucket_cols``. Overwrites an existing table of the same name."""
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table)
