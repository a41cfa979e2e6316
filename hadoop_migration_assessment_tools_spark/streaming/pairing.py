"""STR8: stateful submit↔complete pairing in-stream (SURVEY §2.8).

The reference pairs pre/post in-process on one HookContext (EventLogger.java:135-137);
once events are *streamed* rows, pairing becomes cross-row state.
``pair_submit_complete_stream`` is a declarative stream-stream join with watermarks and
a time-range condition, hash-partitioned by QueryId on both sides, with state bounded
by the watermark: the 100 TB shape. It follows the batch pairing's rules
(``operators.correlate.correlate_submit_complete``): events with a NULL QueryId are
dropped, ``how`` is one of ``left|inner|right|full``, and the output QueryId is the
submission's or, for a completion-only id, the completion's. On a log whose queries
complete within ``JOIN_WINDOW`` of submission, whose duplicate deliveries are
identical and whose events arrive within the watermark, stream and batch give the
same rows. Two rules still differ:

- stream pairs only a completion that lands within ``JOIN_WINDOW`` of its submission;
  batch pairs whatever the gap;
- with ``dedup=True`` stream keeps the first delivery of a duplicated event
  (``dropDuplicatesWithinWatermark``); batch keeps the one with the earliest timestamp.

Outer rows (an unmatched submission or completion) emit once the watermark passes the
join window. The global watermark is the MIN across the submit-side and
completion-side watermarks (spark.sql.streaming.multipleWatermarkPolicy=min), so a
quiet completion stream holds back orphan emission; in a live deployment either both
event types flow continuously (the normal case) or set the policy to 'max' accepting
late-completion drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import EVENT_QUERY_COMPLETED, EVENT_QUERY_SUBMITTED
from ..operators.correlate import _KEEP

#: How long after its submission a completion may land and still pair.
JOIN_WINDOW = "2 hours"


def pair_submit_complete_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    how: str = "left",
    dedup: bool = False,
) -> DataFrame:
    """JN1 as a watermarked stream-stream join.

    Completion must land within [StartTime, StartTime + JOIN_WINDOW]. ``how`` takes
    the batch pairing's values, which Spark's join accepts as they are: ``left`` (the
    default) also emits a submission with no completion, with NULL EndTime/Status,
    after the watermark passes; ``right`` does the same for a completion with no
    submission, ``full`` both; ``inner`` emits matched pairs as their micro-batch
    runs. Anything else raises ValueError.

    dedup=True applies DDP1 *per side, inside this operator* — a
    dropDuplicatesWithinWatermark on the side's key after its own watermark. It
    cannot be a separate upstream operator: each branch may define its watermark
    only once, and the join needs it on StartTime/EndTime specifically.
    """
    if how not in _KEEP:
        raise ValueError(f"how must be one of {sorted(_KEEP)}, got {how!r}")
    events = events.filter(F.col("QueryId").isNotNull())
    sub = (
        events.filter(F.col("EventType") == EVENT_QUERY_SUBMITTED)
        .select(
            F.col("QueryId").alias("sub_QueryId"),
            "QueryText",
            "RequestUser",
            "ExecutionMode",
            "Queue",
            "StartTime",
        )
        .withWatermark("StartTime", watermark)
    )
    comp = (
        events.filter(F.col("EventType") == EVENT_QUERY_COMPLETED)
        .select(
            F.col("QueryId").alias("comp_QueryId"),
            "EndTime",
            "Status",
            "ErrorMessage",
        )
        .withWatermark("EndTime", watermark)
    )
    if dedup:
        sub = sub.dropDuplicatesWithinWatermark(["sub_QueryId"])
        comp = comp.dropDuplicatesWithinWatermark(["comp_QueryId"])
    cond = (
        (F.col("sub_QueryId") == F.col("comp_QueryId"))
        & (F.col("EndTime") >= F.col("StartTime"))
        & (F.col("EndTime") <= F.col("StartTime") + F.expr(f"INTERVAL {JOIN_WINDOW}"))
    )
    return (
        sub.join(comp, cond, how)
        .select(
            F.coalesce("sub_QueryId", "comp_QueryId").alias("QueryId"),
            "QueryText",
            "RequestUser",
            "ExecutionMode",
            "Queue",
            "StartTime",
            "EndTime",
            "Status",
            "ErrorMessage",
            (F.unix_millis("EndTime") - F.unix_millis("StartTime")).cast("long").alias(
                "DurationMillis"
            ),
        )
    )
