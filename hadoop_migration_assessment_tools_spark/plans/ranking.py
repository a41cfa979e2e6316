"""Physical-plan strategies: distributed global ranking.

``row_number().over(Window.orderBy(...))`` with no partitionBy funnels every row
through ONE task — survivable post-aggregation at small SF, a straggler at 100 TB
(a large estate can have millions of distinct tables). The scalable shape is a
two-phase rank:

1. ``repartitionByRange`` on the sort key — Spark's range partitioner samples the
   key distribution and assigns contiguous, globally ordered key ranges to N
   partitions, so partition i holds strictly higher-ranked rows than partition i+1.
2. rank locally within each range partition (a Window *partitioned* by the range
   partition id — every task ranks only its own slice).
3. add per-partition row-count offsets: an N-row aggregate (N = shuffle partitions,
   not data size), cumulated with a window over those N rows and broadcast back.

The only single-task stage left operates on N rows, which is bounded by config, not
by data. Results are identical to the global window for any total ordering (callers
must pass a tie-breaking sort key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def distributed_row_number(
    df: DataFrame,
    order_by: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally consistent row_number over ``order_by`` without a single-partition
    Window over the data. ``order_by`` must be a total order (include a tiebreaker);
    otherwise ranks at partition boundaries are arbitrary among ties.
    """
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *order_by)
    else:  # let spark.sql.shuffle.partitions decide
        ranged = df.repartitionByRange(*order_by)
    # CORRECTNESS-CRITICAL lineage cut (round-4 bug fix): the local-rank branch and
    # the offsets branch below must see the SAME partition assignment. Without the
    # checkpoint each branch re-evaluates the range exchange independently, and the
    # range partitioner's reservoir SAMPLING can pick different bounds per
    # evaluation (column pruning makes the two subplans non-identical, so
    # ReuseExchange does not dedupe them) — offsets then disagree with local ranks
    # and ranks shift at partition boundaries. Observed on events at sf0.01 (8777
    # wrong ranks); the synthetic-data equality test never tripped it. The
    # checkpoint materializes the partitioning once; both branches read it.
    # eager=False does not make it lazy under AQE (session.py turns AQE on):
    # building the checkpoint's RDD plans the adaptive query, and that runs every
    # shuffle stage below it. So this call runs Spark jobs before the caller's
    # action: for table_access_frequency over the 10k-query benchmark log, 5 jobs
    # (~1.1-1.5 s on 4 cores) when it is called, then 5 more (~0.3-0.4 s) in its
    # collect().
    tagged = ranged.withColumn(
        "_range_pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)
    local = tagged.withColumn(
        "_local_rn",
        F.row_number().over(Window.partitionBy("_range_pid").orderBy(*order_by)),
    )
    # N-row offset table: rows-before-me per range partition. The no-partitionBy
    # window here is deliberate and safe: its input is one row per partition id.
    sizes = tagged.groupBy("_range_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = sizes.select(
        "_range_pid",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_range_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_range_pid")
        .withColumn(rank_col, (F.col("_local_rn") + F.col("_offset")).cast("long"))
        .drop("_range_pid", "_local_rn", "_offset")
    )


def salted_group_topk(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    salt_buckets: int = 16,
    rank_col: str = "rank",
    salt: Column | None = None,
) -> DataFrame:
    """Per-group top-k that survives a HOT group (VERDICT r9 #5 — the reusable
    primitive SCALE.md's Windows row promised): a plain
    ``row_number().over(partitionBy(group))`` funnels every row of a group
    through ONE task, so a group holding 80% of 100 TB is a straggler by
    construction. Two phases instead:

    1. rank within ``(group, salt)`` — the hot group fans across
       ``salt_buckets`` tasks; keep each salt's local top-k. Any row of the
       TRUE top-k has fewer than k rows beating it globally, hence fewer than
       k beating it inside its own salt bucket — so it always survives.
    2. re-rank the survivors per group — at most ``k * salt_buckets`` rows
       per group reach this window, bounded by config, not by data.

    Results are identical to the plain window for any TOTAL order (callers
    must include a tie-breaker in ``order_by``, same contract as
    ``distributed_row_number``). The default salt is a per-row spread (hash of
    a row id, the plans/skew.py move), so identical sort keys still fan out;
    pass ``salt`` (any int expression in [0, salt_buckets), e.g. a portable
    hash of a unique key — the r11 oracled row events_salted_group_topk does
    this) when the bucket assignment itself must be deterministic /
    replayable. Cost: one extra (narrow) shuffle of the k*salt_buckets
    survivors — the usual salt trade, free next to the straggler it removes.
    Certified equal + split-pinned in tests/test_plans.py; certified equal to
    the definitional window BY HASH in the oracled registry row."""
    salted = df.withColumn(
        "_salt",
        salt.cast("int")
        if salt is not None
        else F.pmod(
            F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets)
        ).cast("int"),
    )
    w_local = Window.partitionBy(*group_cols, "_salt").orderBy(*order_by)
    survivors = (
        salted.withColumn("_local_rn", F.row_number().over(w_local))
        .where(F.col("_local_rn") <= k)
        .drop("_salt", "_local_rn")
    )
    w_group = Window.partitionBy(*group_cols).orderBy(*order_by)
    return survivors.withColumn(
        rank_col, F.row_number().over(w_group).cast("long")
    ).where(F.col(rank_col) <= k)
