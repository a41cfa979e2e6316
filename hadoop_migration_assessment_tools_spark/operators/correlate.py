"""Downstream QueryEvents analytics operators (capability layer B, SURVEY §0).

These are the operators the persisted data model is *designed* to support: the schema
splits one query across a QUERY_SUBMITTED and a QUERY_COMPLETED row keyed by QueryId
(EventRecordConstructor.java:104,142), making the correlation join, the rollups, and
the table-frequency explode the defining consumption semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import EVENT_QUERY_COMPLETED, EVENT_QUERY_SUBMITTED
from ..plans.ranking import distributed_row_number
from ..session import per_session


def _dedup_columns() -> tuple[Column, Column]:
    ts = F.coalesce(F.col("StartTime"), F.col("EndTime"))
    w = Window.partitionBy("QueryId", "EventType").orderBy(ts.asc_nulls_last())
    return F.row_number().over(w), F.col("_rn") == 1


def deduplicate_events(events: DataFrame) -> DataFrame:
    """DDP1: at-least-once upstream delivery (retry loop EventLogger.java:196-210) makes
    duplicates possible; canonical dedup key is (QueryId, EventType). Deterministic:
    keeps the earliest event timestamp rather than an arbitrary row.

    The rows are hash-partitioned on QueryId alone before the window: that one
    exchange satisfies the window's (QueryId, EventType) distribution and leaves a
    query's submission and completion in the same partition, sorted together, which
    is what lets correlate_submit_complete pair them without another exchange."""
    rn, first = per_session(events.sparkSession, _dedup_columns)
    return (
        events.repartition("QueryId")
        .withColumn("_rn", rn)
        .filter(first)
        .drop("_rn")
    )


# Columns each side of a pair contributes. The completion's Queue is the post-event
# Queue overwrite (:162) and comes out as FinalQueue.
_SUBMIT_COLS = (
    "QueryType",
    "QueryText",
    "ExecutionMode",
    "ExecutionEngine",
    "RequestUser",
    "UserName",
    "Queue",
    "StartTime",
    "TablesRead",
    "TablesWritten",
    "DatabasesRead",
    "DatabasesWritten",
    "DefaultDatabase",
    "SessionId",
)
_COMPLETE_COLS = (
    ("EndTime", "EndTime"),
    ("Status", "Status"),
    ("ErrorMessage", "ErrorMessage"),
    ("PerfObject", "PerfObject"),
    ("CountersObject", "CountersObject"),
    ("YarnApplicationId", "YarnApplicationId"),
    ("Queue", "FinalQueue"),
    ("HiveHostName", "HiveHostName"),
)
# how -> which QueryIds survive, given (has a submission, has a completion).
_KEEP = {
    "left": lambda sub, comp: sub,
    "right": lambda sub, comp: comp,
    "inner": lambda sub, comp: sub & comp,
    "full": lambda sub, comp: sub | comp,
}


def _correlate_columns() -> tuple[Column, list[Column], dict[str, Column], Column]:
    is_sub = F.col("EventType") == EVENT_QUERY_SUBMITTED
    is_comp = F.col("EventType") == EVENT_QUERY_COMPLETED

    def pick(side, col, name):
        return F.first(F.when(side, F.col(col)), ignorenulls=True).alias(name)

    picks = [
        *(pick(is_sub, c, c) for c in _SUBMIT_COLS),
        *(pick(is_comp, c, name) for c, name in _COMPLETE_COLS),
        F.max(is_sub).alias("_has_sub"),
        F.max(is_comp).alias("_has_comp"),
    ]
    has_sub, has_comp = F.col("_has_sub"), F.col("_has_comp")
    keep = {how: rule(has_sub, has_comp) for how, rule in _KEEP.items()}
    duration = (F.unix_millis(F.col("EndTime")) - F.unix_millis(F.col("StartTime"))).cast("long")
    return F.col("QueryId").isNotNull(), picks, keep, duration


def correlate_submit_complete(events: DataFrame, how: str = "left") -> DataFrame:
    """JN1: pair each QUERY_SUBMITTED with its QUERY_COMPLETED on QueryId and derive
    duration/status. ``how`` keeps the join vocabulary: ``left`` (the default) keeps
    never-completed submissions with NULL completion columns, ``right`` keeps
    completion-only ids, ``inner`` only complete pairs, ``full`` both; anything else
    raises ValueError.

    Input contract: ``events`` is the output of deduplicate_events (every caller
    passes exactly that), so each QueryId has at most one row per EventType and
    every picked column is that row's value. Events with a NULL QueryId have no
    pairing key and are dropped under every ``how``.

    Scale: one aggregate per QueryId instead of a filter/filter/self-join. Each
    column is ``first(when(EventType == side, col), ignorenulls)`` so column
    pruning still reaches the scan, and two presence flags implement ``how``.
    On deduplicate_events' output the aggregate needs neither an exchange nor a
    sort: the rows are already hash-partitioned on QueryId and sorted by it, so it
    runs as a SortAggregate in the window's stage. At 100 TB the deduplicated
    events cross the network once, in deduplicate_events' exchange. The Columns
    (the picks, the flags, the four ``how`` filters) are built once per
    SparkSession.
    """
    if how not in _KEEP:
        raise ValueError(f"how must be one of {sorted(_KEEP)}, got {how!r}")
    has_id, picks, keep, duration = per_session(events.sparkSession, _correlate_columns)
    return (
        events.filter(has_id)
        .groupBy("QueryId")
        .agg(*picks)
        .filter(keep[how])
        .drop("_has_sub", "_has_comp")
        .withColumn("DurationMillis", duration)
    )


def _rollup_aggregates() -> list[Column]:
    return [
        F.count(F.lit(1)).cast("long").alias("query_count"),
        F.sum(F.when(F.col("Status") == "FAIL", 1).otherwise(0)).cast("long").alias("failed_count"),
        F.round(F.avg("DurationMillis"), 3).alias("avg_duration_ms"),
        F.max("DurationMillis").alias("max_duration_ms"),
        F.approx_count_distinct("QueryId").alias("approx_distinct_queries"),
    ]


def query_log_rollups(correlated: DataFrame, *group_cols: str) -> DataFrame:
    """AGG5: the assessment rollup — query counts, failure counts, duration stats per
    arbitrary dimension set (user, queue, mode, day...). Map-side partial agg makes this
    one cheap shuffle regardless of input size."""
    if not group_cols:
        group_cols = ("RequestUser",)
    return correlated.groupBy(*group_cols).agg(
        *per_session(correlated.sparkSession, _rollup_aggregates)
    )


def table_access_frequency(events: DataFrame) -> DataFrame:
    """AGG6: per-table read/write counts of the submissions' TablesRead and
    TablesWritten, with a hot-table rank. One generator, ``stack`` then
    ``explode``, turns each submission into (table, is_write) rows, so the input
    is scanned and deduplicated once; a NULL array yields no rows. Every
    submission counts, NULL-QueryId ones included. The explode fans out rows but
    each carries only (table, flag): the shuffle payload stays tiny at 100 TB of
    logs.

    hot_rank is plans/ranking.distributed_row_number over (total desc, name asc):
    one distributed sort, not a global no-partitionBy Window, since a large estate
    can have millions of distinct tables. Calling this starts no Spark job."""
    refs = (
        events.filter(F.col("EventType") == EVENT_QUERY_SUBMITTED)
        .select(F.expr("stack(2, TablesRead, 0, TablesWritten, 1) AS (tables, is_write)"))
        .select(F.explode("tables").alias("table_name"), "is_write")
    )
    counts = (
        refs.groupBy("table_name")
        .agg(
            F.sum(F.lit(1) - F.col("is_write")).cast("long").alias("read_count"),
            F.sum("is_write").cast("long").alias("write_count"),
        )
        .withColumn("total_count", (F.col("read_count") + F.col("write_count")).cast("long"))
    )
    return distributed_row_number(
        counts,
        [F.desc("total_count"), F.asc("table_name")],
        rank_col="hot_rank",
    )


def merge_rollup_increment(
    base_agg: DataFrame, delta: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view delta pattern): merge a
    new batch's partial rollup into a previously computed rollup WITHOUT touching the
    base data again. Only algebraically mergeable aggregates participate
    (count/sum/min/max — avg derives from sum/count at read time); holistic
    aggregates (count_distinct, median) are deliberately excluded because their
    partials do not merge.

    Both inputs must carry the schema (group_cols..., n, total, vmin, vmax).
    At 100 TB this is THE difference between re-scanning the corpus per refresh and
    touching only the delta: the merge input is |groups| rows, not |events| rows.
    """
    merged = base_agg.unionByName(delta)
    return merged.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
