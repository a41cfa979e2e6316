"""Physical-plan strategies: bucketing for shuffle-free co-located joins.

At 100 TB the dominant cost of JN4 fact-fact edges is the shuffle. Bucketing both sides
on the join key at write time makes the join a zipped per-bucket merge — zero Exchange
in the plan (asserted in tests, not assumed).

The sink-side counterpart: `DatePartitionedSink` handles the date layout for scans;
`save_bucketed` is the layout for *join-heavy* consumption. The same table can be kept
in both layouts when both access paths matter (storage is the cheap resource at this
scale; shuffle is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table. Joins/aggregations
    on bucket_cols between tables with the same bucketing need no Exchange; sorting
    additionally removes the Sort from sort-merge joins."""
    writer = df.write.format(fmt).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode("overwrite").saveAsTable(table_name)


def read_bucketed_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def assert_no_shuffle_join(df: DataFrame) -> None:
    """Raise if the physical plan for `df` contains an Exchange (shuffle). Used by
    tests to prove bucketed joins are co-located, and available as a production
    guardrail before launching an expensive job."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(f"plan contains a shuffle Exchange:\n{plan}")
