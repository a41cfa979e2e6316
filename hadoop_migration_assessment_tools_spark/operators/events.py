"""Event construction operators — the reference hook's extract/classify/aggregate logic
re-expressed as pure Column expressions over a HOOK_INPUT_SCHEMA DataFrame.

Reference: src/java/com/google/cloud/bigquery/dwhassessment/hooks/logger/EventRecordConstructor.java
(SURVEY §2.2-§2.4 gives the operator-by-operator citation map). Everything here is
built-in pyspark.sql.functions — no Python UDFs — so the whole pipeline stays inside
whole-stage codegen and scales linearly with input partitions (no shuffle anywhere in
event construction; it is a pure map-side projection).

Deliberate deviations from the reference (documented in SURVEY §7 "known hard parts"):
- entity arrays are sorted (the reference's HashSet order is arbitrary; its own tests
  compare order-free — EventRecordConstructorTest.java:144-147);
- the DDL-task search sees the whole pre-flattened task array, not replicating the
  early-return quirk in TasksRetriever.java:34-36 that skips sibling subtrees.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import (
    EVENT_QUERY_COMPLETED,
    EVENT_QUERY_SUBMITTED,
    HOOK_VERSION,
    INSTANCE_CLI,
    INSTANCE_HS2,
    MODE_CLIENT_ONLY,
    MODE_DDL,
    MODE_LLAP,
    MODE_MR,
    MODE_NONE,
    MODE_SPARK,
    MODE_TEZ,
    STATUS_FAIL,
    STATUS_SUCCESS,
)
from ..functions.scalars import coalesce_user, mr_job_to_application_id
from ..schema import HOOK_INPUT_SCHEMA, QUERY_EVENTS_SCHEMA
from ..session import per_session

def _null_str() -> Column:
    return F.lit(None).cast("string")


def extract_entity_names(entities: Column, entity_type: str) -> Column:
    """FLT1-3 (EventRecordConstructor.java:273-301): filter entity set by type, project
    names, dedup with set semantics. Array-native — no explode/shuffle; sorted for
    determinism (the reference's HashSet order is arbitrary)."""
    return F.sort_array(
        F.array_distinct(
            F.transform(
                F.filter(entities, lambda e: e["entity_type"] == entity_type),
                lambda e: e["name"],
            )
        )
    )


def classify_execution_mode(tasks: Column) -> Column:
    """PRJ7 (EventRecordConstructor.java:312-344): decision tree over the task DAG.

    Precedence is the reference's: empty -> CLIENT_ONLY; any Tez task (LLAP if any of
    them runs llap mode) -> LLAP/TEZ; any MR -> MR; any Spark -> SPARK; any DDL in the
    tree -> DDL; else NONE. Uses `exists` higher-order functions over the pre-flattened
    task array — constant-time per row, codegen-friendly.
    """
    has = lambda t: F.exists(tasks, lambda x: x["task_type"] == t)  # noqa: E731
    has_llap = F.exists(
        tasks, lambda x: (x["task_type"] == "TEZ") & F.coalesce(x["is_llap"], F.lit(False))
    )
    return (
        F.when(tasks.isNull() | (F.size(tasks) == 0), MODE_CLIENT_ONLY)
        .when(has("TEZ") & has_llap, MODE_LLAP)
        .when(has("TEZ"), MODE_TEZ)
        .when(has("MAPRED"), MODE_MR)
        .when(has("SPARK"), MODE_SPARK)
        .when(has("DDL"), MODE_DDL)
        .otherwise(MODE_NONE)
    )


def queue_name(mode: Column, queue_llap: Column, queue_mr: Column, queue_tez: Column) -> Column:
    """PRJ6 (EventRecordConstructor.java:182-193): mode-dispatched queue config lookup."""
    return (
        F.when(mode == MODE_LLAP, queue_llap)
        .when(mode == MODE_MR, queue_mr)
        .when(mode == MODE_TEZ, queue_tez)
        .otherwise(_null_str())
    )


def perf_json(perf: Column, event_time: Column) -> Column:
    """AGG2 (EventRecordConstructor.java:255-271): perf key -> duration; a still-running
    entry (duration 0) falls back to now - start. Emitted as the flat JSON map the
    consumers re-parse with PERF_OBJECT_SCHEMA."""
    resolved = F.transform_values(
        perf,
        lambda _, v: F.when(
            v["duration_millis"] == 0,
            F.unix_millis(event_time) - v["start_millis"],
        ).otherwise(v["duration_millis"]),
    )
    return F.when(perf.isNotNull(), F.to_json(resolved)).otherwise(_null_str())


def counters_json(counters: Column) -> Column:
    """AGG1 (EventRecordConstructor.java:201-253): dump nested counters preserving
    structure — JSON [[{group: {counter: long}}]]; empty -> null (the reference omits
    the field entirely when no counters exist)."""
    shaped = F.transform(
        F.filter(counters, lambda job: job.isNotNull()),
        lambda job: F.transform(
            job,
            lambda g: F.map_from_entries(F.array(F.struct(g["group"], g["counters"]))),
        ),
    )
    return F.when(
        counters.isNotNull() & (F.size(shaped) > 0), F.to_json(shaped)
    ).otherwise(_null_str())


def determine_application_id(mode: Column, tasks: Column, tez_session_app_id: Column, llap_app_id: Column) -> Column:
    """JN3 + FLT7/WIN1 (ApplicationIdRetriever.java:39-120): mode-dispatched app-id lookup.
    TEZ -> session app id; LLAP -> registry app id; MR -> first convertible job id among
    MR tasks (malformed ids skipped — the stream findFirst of :78-94)."""
    mr_candidates = F.filter(
        F.transform(
            F.filter(tasks, lambda t: t["task_type"] == "MAPRED"),
            lambda t: mr_job_to_application_id(t["job_id"]),
        ),
        lambda x: x.isNotNull(),
    )
    first_mr = F.when(F.size(mr_candidates) > 0, F.element_at(mr_candidates, 1))
    return (
        F.when(mode == MODE_TEZ, tez_session_app_id)
        .when(mode == MODE_LLAP, llap_app_id)
        .when(mode == MODE_MR, first_mr)
        .otherwise(_null_str())
    )


def _shared_identity_cols(c: dict[str, Column]) -> dict[str, Column]:
    return {
        "QueryId": c["query_id"],
        "UserName": c["ugi_user_name"],  # OS short name (:303-305)
        "RequestUser": coalesce_user(c["hook_user_name"], c["ugi_user_name"]),  # PRJ3
        "HookVersion": F.lit(HOOK_VERSION),
        "OperationId": c["operation_id"],
    }


def _hook_cols() -> dict[str, Column]:
    return {f.name: F.col(f.name) for f in HOOK_INPUT_SCHEMA.fields}


def _pre_hook_projection() -> list[Column]:
    c = _hook_cols()
    mode = classify_execution_mode(c["tasks"])
    cols = _shared_identity_cols(c) | {
        "QueryType": c["query_type"],
        "QueryText": c["query_text"],
        "EventType": F.lit(EVENT_QUERY_SUBMITTED),
        "StartTime": c["query_start_time"],
        "ExecutionMode": mode,
        "ExecutionEngine": c["execution_engine"],
        "Queue": queue_name(mode, c["queue_llap"], c["queue_mr"], c["queue_tez"]),  # PRJ6
        "TablesRead": extract_entity_names(c["inputs"], "TABLE"),
        "TablesWritten": extract_entity_names(c["outputs"], "TABLE"),
        "PartitionsRead": extract_entity_names(c["inputs"], "PARTITION"),
        "PartitionsWritten": extract_entity_names(c["outputs"], "PARTITION"),
        "SessionId": c["session_id"],
        "InvokerInfo": c["invoker_info"],
        "ThreadName": c["thread_name"],
        "ClientIpAddress": c["client_ip"],  # set once; the reference's double-set at
        # :121-122 is a harmless quirk we do not replicate
        "HiveVersion": c["hive_version"],
        "HiveAddress": F.coalesce(c["hive_address"], F.lit("127.0.0.1")),  # PRJ4 fallback
        "HiveInstanceType": F.when(c["is_hs2"], INSTANCE_HS2).otherwise(INSTANCE_CLI),  # PRJ5
        "DatabasesRead": extract_entity_names(c["inputs"], "DATABASE"),
        "DatabasesWritten": extract_entity_names(c["outputs"], "DATABASE"),
        "DefaultDatabase": c["default_db"],
    }
    return _schema_projection(cols)


def _post_hook_projection() -> list[Column]:
    c = _hook_cols()
    mode = classify_execution_mode(c["tasks"])
    app_id = determine_application_id(
        mode, c["tasks"], c["tez_session_app_id"], c["llap_app_id"]
    )
    cols = _shared_identity_cols(c) | {
        "EventType": F.lit(EVENT_QUERY_COMPLETED),
        "EndTime": c["event_time"],
        "Status": F.when(c["hook_type"] == "POST_EXEC_HOOK", STATUS_SUCCESS)
        .when(c["hook_type"] == "ON_FAILURE_HOOK", STATUS_FAIL)
        .otherwise(_null_str()),
        "ErrorMessage": c["error_message"],
        "PerfObject": perf_json(c["perf"], c["event_time"]),
        # AGG3: Tez counters preferred, MR fallback (:166-169).
        "CountersObject": F.coalesce(
            counters_json(c["counters_tez"]), counters_json(c["counters_mr"])
        ),
        "YarnApplicationId": app_id,
    }
    return _schema_projection(cols)


def pre_hook_event(df: DataFrame) -> DataFrame:
    """PRJ1 (EventRecordConstructor.java:94-132): the 27-column QUERY_SUBMITTED projection.
    Pure narrow map — no shuffle; safe at any scale. The projection is built once per
    SparkSession (session.per_session)."""
    return df.select(*per_session(df.sparkSession, _pre_hook_projection))


def post_hook_event(df: DataFrame, yarn_applications: DataFrame | None = None) -> DataFrame:
    """PRJ2 + AGG1-3 + JN2/JN3 (EventRecordConstructor.java:134-172): the QUERY_COMPLETED
    projection. Status derives from the hook type (:85-87). The reference's per-query
    ResourceManager RPC (YarnApplicationRetriever.java:38-50) becomes a broadcast left
    join against an `applications(application_id, host, queue)` lookup table — no
    per-row RPC, scales to any event volume. The projection is built once per
    SparkSession; the join is built per call."""
    out = df.select(*per_session(df.sparkSession, _post_hook_projection))
    if yarn_applications is not None:
        # JN2: enrich host + queue from the applications lookup (broadcast — dim-sized).
        apps = F.broadcast(
            yarn_applications.select(
                F.col("application_id"),
                F.col("host").alias("_app_host"),
                F.col("queue").alias("_app_queue"),
            )
        )
        out = (
            out.join(apps, out["YarnApplicationId"] == apps["application_id"], "left")
            .withColumn("HiveHostName", F.col("_app_host"))
            .withColumn("Queue", F.col("_app_queue"))
            .drop("application_id", "_app_host", "_app_queue")
        )
    return out


def as_query_events(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """Public projection into the 33-field QueryEvents shape: provide any subset of
    fields as Columns, the rest become typed nulls — GenericRecordBuilder defaults
    (SURVEY §1.4). Useful for adapting arbitrary sources into the event model."""
    return df.select(*_schema_projection(cols))


def _schema_projection(cols: dict[str, Column]) -> list[Column]:
    """The full 33-field QUERY_EVENTS_SCHEMA projection, nulling absent fields —
    nullability-first, exactly like GenericRecordBuilder defaults (SURVEY §1.4)."""
    out = []
    for field in QUERY_EVENTS_SCHEMA.fields:
        col = cols.get(field.name)
        if col is None:
            col = F.lit(None).cast(field.dataType)
        out.append(col.cast(field.dataType).alias(field.name))
    return out


def _dispatch_predicates() -> tuple[Column, Column, Column]:
    hook_type = F.col("hook_type")
    return (
        F.col("query_id").isNotNull(),
        hook_type == "PRE_EXEC_HOOK",
        hook_type.isin("POST_EXEC_HOOK", "ON_FAILURE_HOOK"),
    )


def construct_events(
    raw: DataFrame, yarn_applications: DataFrame | None = None
) -> DataFrame:
    """SRC1 dispatch (EventRecordConstructor.java:80-92 + EventLogger.java:138-142):
    null-plan guard (FLT4), hook-type gate (FLT5), then the pre/post projections unioned
    into one QueryEvents stream. Works identically on batch and streaming DataFrames.

    Every Column here is built once per SparkSession, so a call issues only its
    filters, selects and union (under 100 Py4J round trips, not thousands)."""
    has_plan, is_pre, is_post = per_session(raw.sparkSession, _dispatch_predicates)
    alive = raw.filter(has_plan)  # FLT4 null-plan guard
    pre = pre_hook_event(alive.filter(is_pre))
    post = post_hook_event(alive.filter(is_post), yarn_applications)
    return pre.unionByName(post)
