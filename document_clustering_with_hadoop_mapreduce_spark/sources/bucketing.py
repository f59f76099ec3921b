"""Bucketed-table layout: co-located joins and aggregations.

At 100 TB the dominant cost of a fact-fact join is shuffling both sides.
Writing tables bucketed (and sorted) by the join key moves that shuffle
to WRITE time, once, amortized over every later query: two tables with
the same bucketing on the join key sort-merge-join with ZERO exchanges,
and a groupBy on the bucket key skips its exchange too.

This engine treats bucketing as the storage contract for its fact tables
(orders/lineitem by orderkey or custkey, events by user_id, documents by
doc_id for the text pipelines). The demo + plan assertions live in
tests/test_bucketing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
) -> None:
    """Write ``df`` as an external bucketed parquet table.

    ``sortBy`` on the bucket key makes later merge-joins sort-free as
    well (each bucket file is pre-sorted). Bucket count is a layout
    decision: aim for bucket_size x n_buckets ~ table size with buckets
    in the 100 MB - 1 GB range at target scale."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def table_df(spark: SparkSession, table: str) -> DataFrame:
    """Read back a bucketed table — bucketing metadata comes from the
    catalog, so joins/aggs on the bucket key skip their exchange."""
    return spark.table(table)


def write_date_partitioned(
    df: DataFrame, path: str, ts_col: str, granularity: str = "day"
) -> None:
    """Write partitioned by event date (`dt=YYYY-MM-DD/` dirs) — the other
    half of the 100 TB layout story: time-filtered scans read only the
    matching partitions (plan shows PartitionFilters, not a full scan).
    Combine with bucketing inside each partition for join co-location."""
    from pyspark.sql import functions as F

    (
        df.withColumn("dt", F.date_format(F.date_trunc(granularity, ts_col), "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


def compact_to_target_bytes(
    df: DataFrame,
    path: str,
    target_mb: int = 256,
    sample_rows: int = 1000,
    mode: str = "overwrite",
) -> int:
    """Write ``df`` as parquet in files near ``target_mb`` each — the
    small-files fix for curated outputs.

    A filtered/deduped corpus inherits its parent's partitioning: a 95 %
    cut leaves thousands of near-empty tasks, and at 100 TB the resulting
    file swarm dominates later scan planning (driver-side listing, footer
    reads) and murders any object store's request budget. The fix is one
    deliberate repartition sized from the data itself:

    - estimate bytes/row from a ``sample_rows`` driver sample (serialized
      UnsafeRow width x a 0.35 parquet-compression factor — a coarse but
      stable estimate; the goal is right ORDER of file size, not
      byte-exactness);
    - count rows (cheap: count-star aggregate, no data movement);
    - round-robin ``repartition(ceil(total / target))`` — an exchange, but
      the LAST one before storage, and it replaces N tiny write tasks with
      the right-sized few.

    Returns the partition count written. For joins-after-read layouts use
    ``write_bucketed`` instead — compaction optimizes scan/file economics,
    bucketing optimizes join co-location; they compose (bucket count
    chosen by the same arithmetic).
    """
    if target_mb <= 0:
        raise ValueError(f"target_mb must be > 0, got {target_mb}")
    n_rows = df.count()
    if n_rows == 0:
        df.limit(0).write.mode(mode).parquet(path)
        return 1
    sample = df.limit(sample_rows)
    sampled = sample.collect()
    import sys

    est_row_bytes = max(
        1.0,
        0.35 * sum(sys.getsizeof(str(r)) for r in sampled) / max(1, len(sampled)),
    )
    total_mb = n_rows * est_row_bytes / (1024 * 1024)
    n_files = max(1, int(total_mb / target_mb + 0.5))
    df.repartition(n_files).write.mode(mode).parquet(path)
    return n_files
