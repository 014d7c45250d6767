"""Bucketed and directory-partitioned table layouts, plus plan evidence.

At 100 TB the dominant cost of a repeated fact-to-fact join (orders x
lineitem, encounter x sample, corpus x signatures) is re-shuffling both
sides on the join key every query. Spark's answer is bucketing: persist
each table hash-partitioned into a fixed number of buckets on the key
(``DataFrameWriter.bucketBy`` + ``sortBy``), and every subsequent
equi-join or aggregation on that key reads co-located buckets with NO
Exchange on either side — the shuffle is paid once at write time and
amortized over every downstream query. This is the warehouse-layout
counterpart of ``corpus.shuffle_shards`` (which orders training output;
this co-locates join keys).

Range and Z-order clustering for footer-statistics skipping is not here:
it is the copy-on-write store's one layout routine,
:func:`id3c_spark.sources.store.clustered`, with footer statistics read
by :func:`id3c_spark.sources.store.footer_range`.

Notes for real clusters (all apply unchanged on local[n]):
  - both sides must be bucketed on the join key with the SAME bucket
    count (or a divisor, with ``spark.sql.bucketing.coalesceBucketsInJoin``);
  - ``sortBy`` additionally removes the sort step of sort-merge join;
  - bucket pruning turns key-equality filters into a scan of 1/N buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist *df* as a parquet-backed table bucketed (and bucket-sorted)
    on *bucket_cols* — the one-time shuffle that makes every later
    join/agg on those columns exchange-free. With *path* the table is
    external (data at the given location), else managed in the session
    warehouse."""
    w = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left: str, right: str, on: list[str]
) -> DataFrame:
    """Equi-join two bucketed tables on their bucket key."""
    return spark.table(left).join(spark.table(right), on)


def executed_plan(df: DataFrame) -> str:
    """Formatted physical plan AFTER execution (AQE-final), for asserting
    layout properties like exchange-freeness."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the executed plan. A co-located
    bucketed join must report 0."""
    plan = executed_plan(df)
    return sum(
        line.lstrip("+-* (").startswith("Exchange")
        for line in plan.splitlines()
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet layout (hive-style ``col=value``
    paths). The complement of bucketing: bucketing co-locates high-
    cardinality JOIN keys, partitioning prunes low-cardinality FILTER
    keys (date, source, language) — a selective scan touches only the
    matching directories, turning a 100 TB relation into the few TB the
    predicate names."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def scan_pruning_evidence(df: DataFrame) -> tuple[str, str]:
    """(PartitionFilters, PushedFilters) lines of the scan node — the two
    `.explain` facts that prove a filter prunes directories and reaches
    the parquet reader instead of running post-scan."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()

    def seg(label: str) -> str:
        m = re.search(re.escape(label) + r":\s*\[([^\]]*)\]", plan)
        return m.group(1) if m else ""

    return seg("PartitionFilters"), seg("PushedFilters")
