"""Golden-record tests for the event-construction operators, mirroring the reference's
test strategy (SURVEY §5; fixture values from FIXTURES.md §A / testing/TestUtils.java:64-66,
136-171 and EventRecordConstructorTest.java)."""

from __future__ import annotations

import datetime as dt
import json
import random
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from hadoop_migration_assessment_tools_spark.operators.events import (
    classify_execution_mode,
    construct_events,
    post_hook_event,
    pre_hook_event,
)
from hadoop_migration_assessment_tools_spark.operators.correlate import (
    correlate_submit_complete,
    deduplicate_events,
    query_log_rollups,
    table_access_frequency,
)
from hadoop_migration_assessment_tools_spark.functions.scalars import (
    is_supported_hive_version,
    mr_job_to_application_id,
)
from hadoop_migration_assessment_tools_spark.schema import HOOK_INPUT_SCHEMA, QUERY_EVENTS_SCHEMA
from hadoop_migration_assessment_tools_spark.sources.readers import read_event_log
from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink


def _ms(millis: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(millis / 1000, tz=dt.timezone.utc).replace(tzinfo=None)


BASE_INPUT = {
    # Canonical fixture values (TestUtils.java:64-66 etc.)
    "hook_type": "PRE_EXEC_HOOK",
    "query_id": "hive_query_id_999",
    "query_type": "QUERY",
    "query_text": "SELECT * FROM employees",
    "query_start_time": _ms(1234),
    "event_time": _ms(9999),
    "execution_engine": "mr",
    "hook_user_name": "test_user",
    "ugi_user_name": "test_user",
    "operation_id": "test_op_id",
    "session_id": "test_session_id",
    "invoker_info": "test_session_id",
    "thread_name": "test_thread_id",
    "hive_version": "2.2.0",
    "client_ip": "192.168.10.10",
    "hive_address": "hive_addr",
    "is_hs2": True,
    "default_db": "default",
    "error_message": None,
    "queue_mr": None,
    "queue_tez": None,
    "queue_llap": None,
    "tasks": [],
    "inputs": [],
    "outputs": [],
    "perf": {},
    "counters_tez": None,
    "counters_mr": None,
    "yarn_application_id": None,
    "tez_session_app_id": None,
    "llap_app_id": None,
}


def make_input(spark, **overrides):
    row = dict(BASE_INPUT)
    row.update(overrides)
    return spark.createDataFrame([row], schema=HOOK_INPUT_SCHEMA)


def test_pre_hook_event_golden(spark):
    """Golden pre-exec row (FIXTURES.md §A; TestUtils.java:136-158)."""
    df = make_input(
        spark,
        inputs=[
            {"entity_type": "TABLE", "name": "dbName@tableName"},
            {"entity_type": "PARTITION", "name": "dbName@tableName@continent=Europe"},
            {"entity_type": "PARTITION", "name": "dbName@tableName@continent=Asia"},
            {"entity_type": "PARTITION", "name": "dbName@tableName@continent=Asia"},
            {"entity_type": "DATABASE", "name": "dbName"},
        ],
    )
    row = pre_hook_event(df).collect()[0]
    assert row["QueryId"] == "hive_query_id_999"
    assert row["QueryType"] == "QUERY"
    assert row["QueryText"] == "SELECT * FROM employees"
    assert row["EventType"] == "QUERY_SUBMITTED"
    assert row["ExecutionMode"] == "CLIENT_ONLY"  # empty task list
    assert row["ExecutionEngine"] == "mr"
    assert row["StartTime"] == _ms(1234)
    assert row["EndTime"] is None
    assert row["RequestUser"] == "test_user"
    assert row["HookVersion"] == "1.0"
    assert row["HiveVersion"] == "2.2.0"
    assert row["ClientIpAddress"] == "192.168.10.10"
    assert row["HiveAddress"] == "hive_addr"
    assert row["HiveInstanceType"] == "HS2"
    assert row["OperationId"] == "test_op_id"
    assert row["DefaultDatabase"] == "default"
    assert row["TablesRead"] == ["dbName@tableName"]
    # set semantics, order-free compare (EventRecordConstructorTest.java:144-147)
    assert sorted(row["PartitionsRead"]) == [
        "dbName@tableName@continent=Asia",
        "dbName@tableName@continent=Europe",
    ]
    assert row["DatabasesRead"] == ["dbName"]
    assert row["TablesWritten"] == [] and row["PartitionsWritten"] == []
    assert row["Status"] is None and row["CountersObject"] is None


@pytest.mark.parametrize(
    "tasks,expected",
    [
        ([], "CLIENT_ONLY"),
        ([{"task_type": "TEZ", "is_llap": False, "job_id": None}], "TEZ"),
        ([{"task_type": "TEZ", "is_llap": True, "job_id": None}], "LLAP"),
        (
            [
                {"task_type": "TEZ", "is_llap": False, "job_id": None},
                {"task_type": "TEZ", "is_llap": True, "job_id": None},
            ],
            "LLAP",
        ),
        ([{"task_type": "MAPRED", "is_llap": None, "job_id": "job_1_2"}], "MR"),
        ([{"task_type": "SPARK", "is_llap": None, "job_id": None}], "SPARK"),
        ([{"task_type": "DDL", "is_llap": None, "job_id": None}], "DDL"),
        ([{"task_type": "COPY", "is_llap": None, "job_id": None}], "NONE"),
        # Tez wins over MR when both present (reference checks Tez first, :320-333)
        (
            [
                {"task_type": "MAPRED", "is_llap": None, "job_id": None},
                {"task_type": "TEZ", "is_llap": False, "job_id": None},
            ],
            "TEZ",
        ),
    ],
)
def test_execution_mode_matrix(spark, tasks, expected):
    """Execution-mode decision table (EventRecordConstructorTest.java:150-175)."""
    df = make_input(spark, tasks=tasks)
    got = df.select(classify_execution_mode(F.col("tasks")).alias("m")).collect()[0]["m"]
    assert got == expected


def test_post_hook_event_success_and_fail(spark):
    for hook_type, status in [("POST_EXEC_HOOK", "SUCCESS"), ("ON_FAILURE_HOOK", "FAIL")]:
        df = make_input(spark, hook_type=hook_type, error_message="boom" if status == "FAIL" else None)
        row = post_hook_event(df).collect()[0]
        assert row["QueryId"] == "hive_query_id_999"
        assert row["EventType"] == "QUERY_COMPLETED"
        assert row["EndTime"] == _ms(9999)  # fixed clock QUERY_END_TIME = 9999
        assert row["Status"] == status
        assert row["PerfObject"] == "{}"
        assert row["HookVersion"] == "1.0"
        assert row["OperationId"] == "test_op_id"
        assert row["StartTime"] is None


def test_counters_golden_json(spark):
    """Golden counters JSON (EventRecordConstructorTest.java:284-287):
    [[{"counters_group1":{"metric_key1":123}},{"counters_group2":{"metric_key1":456,"metric_key2":789}}]]"""
    counters = [
        [
            {"group": "counters_group1", "counters": {"metric_key1": 123}},
            {"group": "counters_group2", "counters": {"metric_key1": 456, "metric_key2": 789}},
        ]
    ]
    df = make_input(spark, hook_type="POST_EXEC_HOOK", counters_tez=counters)
    row = post_hook_event(df).collect()[0]
    expected = [
        [
            {"counters_group1": {"metric_key1": 123}},
            {"counters_group2": {"metric_key1": 456, "metric_key2": 789}},
        ]
    ]
    # Compare parsed (key order inside JSON objects is unordered in both engines —
    # SURVEY §7 known hard part 1).
    assert json.loads(row["CountersObject"]) == expected


def test_counters_mr_fallback_and_empty(spark):
    mr = [[{"group": "g", "counters": {"k": 1}}]]
    df = make_input(spark, hook_type="POST_EXEC_HOOK", counters_tez=None, counters_mr=mr)
    row = post_hook_event(df).collect()[0]
    assert json.loads(row["CountersObject"]) == [[{"g": {"k": 1}}]]
    # empty counters -> field omitted (null), reference :252
    df2 = make_input(spark, hook_type="POST_EXEC_HOOK", counters_tez=[], counters_mr=None)
    assert post_hook_event(df2).collect()[0]["CountersObject"] is None


def test_perf_running_fallback(spark):
    """AGG2: duration 0 -> now - start (EventRecordConstructor.java:262-266)."""
    perf = {
        "compile": {"start_millis": 1000, "duration_millis": 500},
        "execute": {"start_millis": 2000, "duration_millis": 0},  # still running
    }
    df = make_input(spark, hook_type="POST_EXEC_HOOK", perf=perf)
    row = post_hook_event(df).collect()[0]
    assert json.loads(row["PerfObject"]) == {"compile": 500, "execute": 9999 - 2000}


@pytest.mark.parametrize(
    "version,ok",
    [
        ("2.2.0", True),
        ("2.3.8", True),
        ("2.3", True),
        ("3.1.3", True),
        ("2.1.9", False),
        ("1.1.2", False),
        ("4.0.0", False),
        ("unexpected", False),
        ("5", False),
        ("3.abc1", False),
    ],
)
def test_version_gate_matrix(spark, version, ok):
    """PRJ8 (VersionValidatorTest.java:29-49)."""
    df = spark.createDataFrame([(version,)], ["v"])
    got = df.select(is_supported_hive_version(F.col("v")).alias("ok")).collect()[0]["ok"]
    assert got is ok


def test_app_id_conversion(spark):
    """FLT7 golden (ApplicationIdRetrieverTest.java:68-97)."""
    df = spark.createDataFrame(
        [("job_1685098059769_1951",), ("malformed",), (None,)], ["job_id"]
    )
    got = [
        r["app"]
        for r in df.select(mr_job_to_application_id(F.col("job_id")).alias("app")).collect()
    ]
    assert got == ["application_1685098059769_1951", None, None]


def test_queue_dispatch(spark):
    cases = [
        ([{"task_type": "TEZ", "is_llap": True, "job_id": None}], "llap_q"),
        ([{"task_type": "MAPRED", "is_llap": None, "job_id": None}], "mr_q"),
        ([{"task_type": "TEZ", "is_llap": False, "job_id": None}], "tez_q"),
        ([], None),
    ]
    for tasks, expected in cases:
        df = make_input(spark, tasks=tasks, queue_mr="mr_q", queue_tez="tez_q", queue_llap="llap_q")
        assert pre_hook_event(df).collect()[0]["Queue"] == expected


def test_construct_events_dispatch_and_gate(spark):
    """FLT4/FLT5 + union: 3 hook types produce records, others dropped; null plan dropped."""
    rows = []
    for ht in ["PRE_EXEC_HOOK", "POST_EXEC_HOOK", "ON_FAILURE_HOOK", "UNKNOWN_HOOK"]:
        r = dict(BASE_INPUT)
        r["hook_type"] = ht
        rows.append(r)
    null_plan = dict(BASE_INPUT)
    null_plan["query_id"] = None
    rows.append(null_plan)
    raw = spark.createDataFrame(rows, schema=HOOK_INPUT_SCHEMA)
    out = construct_events(raw)
    # Names + types must match the avsc-derived schema exactly. Nullability may be
    # tighter on literal-derived columns (non-null is a safe subtype of nullable;
    # Spark's analyzer keeps the tighter flag through any cast).
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in QUERY_EVENTS_SCHEMA.fields
    ]
    got = [(r["EventType"], r["Status"]) for r in out.collect()]
    assert sorted(got) == [
        ("QUERY_COMPLETED", "FAIL"),
        ("QUERY_COMPLETED", "SUCCESS"),
        ("QUERY_SUBMITTED", None),
    ]


def test_yarn_enrichment_join(spark):
    """JN2: broadcast lookup replaces the per-query RM RPC; absent app -> nulls kept."""
    mr_tasks = [{"task_type": "MAPRED", "is_llap": None, "job_id": "job_1685098059769_1951"}]
    df = make_input(spark, hook_type="POST_EXEC_HOOK", tasks=mr_tasks)
    apps = spark.createDataFrame(
        [("application_1685098059769_1951", "host-1", "root.etl")],
        ["application_id", "host", "queue"],
    )
    row = post_hook_event(df, yarn_applications=apps).collect()[0]
    assert row["YarnApplicationId"] == "application_1685098059769_1951"
    assert row["HiveHostName"] == "host-1"
    assert row["Queue"] == "root.etl"
    # unmatched app id -> enrichment silently skipped (nulls), reference :159-163
    df2 = make_input(
        spark,
        hook_type="POST_EXEC_HOOK",
        tasks=[{"task_type": "MAPRED", "is_llap": None, "job_id": "job_0_0"}],
    )
    row2 = post_hook_event(df2, yarn_applications=apps).collect()[0]
    assert row2["YarnApplicationId"] == "application_0_0"
    assert row2["HiveHostName"] is None


def _synthetic_events(spark, n=6):
    """Synthetic QueryEvents table (FIXTURES.md §A generator): 2 rows per query,
    one orphan submit, one duplicated completion."""
    rows = []
    for i in range(n):
        qid = f"hive_query_id_{i}"
        sub = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
        sub.update(
            QueryId=qid,
            EventType="QUERY_SUBMITTED",
            StartTime=_ms(1000 * i),
            RequestUser=f"user_{i % 2}",
            TablesRead=[f"db@t{i % 3}"],
            TablesWritten=["db@sink"] if i % 2 == 0 else [],
            ExecutionMode="TEZ",
        )
        rows.append(sub)
        if i < n - 1:  # last query never completes (orphan)
            comp = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
            comp.update(
                QueryId=qid,
                EventType="QUERY_COMPLETED",
                EndTime=_ms(1000 * i + 500),
                Status="SUCCESS" if i % 3 else "FAIL",
                RequestUser=f"user_{i % 2}",
            )
            rows.append(comp)
            if i == 0:  # duplicate delivery
                rows.append(dict(comp))
    for r in rows:
        r["TablesRead"] = r.get("TablesRead") or []
        r["TablesWritten"] = r.get("TablesWritten") or []
        r["PartitionsRead"] = r.get("PartitionsRead") or []
        r["PartitionsWritten"] = r.get("PartitionsWritten") or []
        r["DatabasesRead"] = r.get("DatabasesRead") or []
        r["DatabasesWritten"] = r.get("DatabasesWritten") or []
    return spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA)


def test_dedup_and_correlate(spark):
    ev = _synthetic_events(spark)
    deduped = deduplicate_events(ev)
    assert deduped.count() == 11  # 6 submits + 5 completes, duplicate dropped
    corr = correlate_submit_complete(deduped)
    assert corr.count() == 6
    by_id = {r["QueryId"]: r for r in corr.collect()}
    assert by_id["hive_query_id_0"]["DurationMillis"] == 500
    assert by_id["hive_query_id_5"]["EndTime"] is None  # orphan kept by left join
    assert by_id["hive_query_id_0"]["Status"] == "FAIL"


def _self_join_reference(events, how):
    """The filter/filter/self-join form correlate_submit_complete replaced: the
    reference its one-aggregate pairing must reproduce."""
    sub = events.filter(F.col("EventType") == "QUERY_SUBMITTED").select(
        "QueryId", "QueryType", "QueryText", "ExecutionMode", "ExecutionEngine",
        "RequestUser", "UserName", "Queue", "StartTime", "TablesRead", "TablesWritten",
        "DatabasesRead", "DatabasesWritten", "DefaultDatabase", "SessionId",
    )
    comp = events.filter(F.col("EventType") == "QUERY_COMPLETED").select(
        "QueryId", "EndTime", "Status", "ErrorMessage", "PerfObject", "CountersObject",
        "YarnApplicationId", F.col("Queue").alias("FinalQueue"), "HiveHostName",
    )
    return sub.join(comp, "QueryId", how).withColumn(
        "DurationMillis",
        (F.unix_millis(F.col("EndTime")) - F.unix_millis(F.col("StartTime"))).cast("long"),
    )


def _random_log(spark, seed, n=80):
    """Seeded QueryEvents log: complete pairs, orphan submissions, completion-only
    ids, NULL Start/EndTimes and repeated deliveries of the same record."""
    rng = random.Random(seed)

    def pick(*values):
        return rng.choice(values)

    rows = []
    for i in range(n):
        qid = f"q{seed}_{i}"
        r = rng.random()
        start = None if rng.random() < 0.1 else _ms(rng.randrange(10**9))
        events = []
        if r >= 0.15:  # the rest are completion-only ids
            events.append(
                dict(
                    QueryId=qid,
                    EventType="QUERY_SUBMITTED",
                    QueryType=pick("QUERY", "DDL"),
                    QueryText=f"SELECT {i}",
                    ExecutionMode=pick("TEZ", "MR", None),
                    ExecutionEngine=pick("tez", "mr"),
                    RequestUser=f"user_{rng.randrange(5)}",
                    UserName=pick("hive", None),
                    Queue=pick("root.etl", "root.adhoc", None),
                    StartTime=start,
                    TablesRead=[f"db@t{rng.randrange(4)}"] * rng.randrange(3),
                    TablesWritten=pick([], ["db@sink"]),
                    DatabasesRead=["db"],
                    DefaultDatabase="db",
                    SessionId=f"s{rng.randrange(3)}",
                )
            )
        if r < 0.15 or r >= 0.3:  # 0.15-0.3: orphan submissions
            end = None if rng.random() < 0.1 else _ms(rng.randrange(10**9))
            events.append(
                dict(
                    QueryId=qid,
                    EventType="QUERY_COMPLETED",
                    EndTime=end,
                    Status=pick("SUCCESS", "FAIL", None),
                    ErrorMessage=pick(None, "boom"),
                    PerfObject=pick(None, '{"compile": 3}'),
                    CountersObject=pick(None, "[]"),
                    YarnApplicationId=pick(None, f"application_1_{i}"),
                    Queue=pick("root.etl", "root.final", None),
                    HiveHostName=pick("host-1", None),
                    RequestUser=f"user_{rng.randrange(5)}",
                )
            )
        for e in events:
            for _ in range(pick(1, 1, 2, 3)):  # at-least-once delivery
                row = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
                row.update(e)
                for c in ("TablesRead", "TablesWritten", "PartitionsRead", "PartitionsWritten",
                          "DatabasesRead", "DatabasesWritten"):
                    row[c] = row[c] or []
                rows.append(row)
    rng.shuffle(rows)
    return spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA)


@pytest.mark.parametrize("how", ["left", "inner", "right", "full"])
def test_correlate_matches_self_join(spark, how):
    """The one-aggregate pairing returns exactly the self-join's rows and columns on
    deduplicated logs with orphans, completion-only ids, NULL timestamps and
    duplicate deliveries."""
    for seed in (1, 2):
        ded = deduplicate_events(_random_log(spark, seed))
        got = correlate_submit_complete(ded, how)
        want = _self_join_reference(ded, how)
        assert got.columns == want.columns
        got_rows = sorted(got.collect(), key=lambda r: r.QueryId)
        want_rows = sorted(want.collect(), key=lambda r: r.QueryId)
        assert got_rows == want_rows, (seed, how)
        assert len(want_rows) > 0


def test_correlate_rejects_unknown_how(spark):
    ev = _synthetic_events(spark)
    for how in ("outer", "left_semi", "cross", ""):
        with pytest.raises(ValueError):
            correlate_submit_complete(ev, how)


def test_correlate_drops_null_query_ids(spark):
    """A NULL QueryId is no pairing key: such events are dropped under every how."""
    ev = _synthetic_events(spark)
    no_id = ev.withColumn("QueryId", F.lit(None).cast("string"))
    ded = deduplicate_events(ev.unionByName(no_id))
    for how in ("left", "inner", "right", "full"):
        rows = correlate_submit_complete(ded, how).collect()
        assert all(r.QueryId is not None for r in rows), how
        assert len(rows) == correlate_submit_complete(deduplicate_events(ev), how).count()


def test_repeated_report_reuses_generated_code(spark):
    """A repeated assessment report (dedup -> correlate -> three rollups -> table
    frequency) compiles no new code: its generated sources all fit the session's
    codegen cache (spark.sql.codegen.cache.maxEntries, session.py). At Spark's
    default of 100 entries the report cycles the cache and recompiles every pass."""
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ev = _synthetic_events(spark)

    def report():
        ded = deduplicate_events(ev)
        cor = correlate_submit_complete(ded)
        query_log_rollups(cor, "RequestUser").collect()
        query_log_rollups(cor, "Queue", "ExecutionMode").collect()
        by_day = cor.withColumn("EventDate", F.to_date("StartTime"))
        query_log_rollups(by_day, "EventDate", "Status").collect()
        table_access_frequency(ded).collect()

    report()
    before = compilations.getCount()
    report()
    assert compilations.getCount() - before == 0


def test_table_access_frequency(spark):
    """Per-table counts over the submissions. A NULL table array contributes no
    rows, and a submission with a NULL QueryId is counted like any other."""
    ev = _synthetic_events(spark)
    no_id = ev.filter(F.col("QueryId") == "hive_query_id_0").withColumns(
        {"QueryId": F.lit(None).cast("string"), "TablesWritten": F.lit(None).cast("array<string>")}
    )
    freq = {r["table_name"]: r for r in table_access_frequency(ev.unionByName(no_id)).collect()}
    assert freq["db@sink"]["write_count"] == 3
    assert freq["db@sink"]["read_count"] == 0
    assert freq["db@t0"]["read_count"] == 3  # i=0,3 and the NULL-QueryId copy of i=0
    assert freq["db@sink"]["hot_rank"] == 1
    assert sorted(r["hot_rank"] for r in freq.values()) == list(range(1, len(freq) + 1))


def _stored_log_frequency(spark, tmp_path):
    """table_access_frequency over a deduplicated parquet log read back from disk,
    with the Spark jobs its call started."""
    base = str(tmp_path / "events")
    DatePartitionedSink(base).write_batch(_synthetic_events(spark))
    sc = spark.sparkContext
    group = "table_access_frequency_call"
    sc.setJobGroup(group, "call table_access_frequency")
    try:
        freq = table_access_frequency(deduplicate_events(read_event_log(spark, base)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return freq, list(sc.statusTracker().getJobIdsForGroup(group))


def test_table_access_frequency_call_starts_no_spark_job(spark, tmp_path):
    """The rank is planned inside the query: calling the operator runs nothing until
    an action."""
    freq, jobs = _stored_log_frequency(spark, tmp_path)
    assert jobs == []
    assert freq.count() == 4


def test_table_access_frequency_reads_its_input_once(spark, tmp_path):
    """One generator explodes reads and writes together, so the plan scans the log
    once and runs the dedup exchange once."""
    freq, _ = _stored_log_frequency(spark, tmp_path)
    plan = freq._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("FileScan") == 1, plan
    assert plan.count("REPARTITION_BY_COL") == 1, plan


def test_table_access_frequency_leaves_nothing_persisted(spark, tmp_path):
    """The sequence numbering persists its sorted input for one query only: after
    collect() the session holds no more persisted RDDs than before the call."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    freq, _ = _stored_log_frequency(spark, tmp_path)
    assert len(freq.collect()) == 4
    assert persisted().size() == before


# --- expression trees built once per session (session.per_session) -----------------


def _round_trips(monkeypatch, fn):
    """Run fn() and count the Py4J commands this thread sends to the JVM meanwhile.
    The finalizer thread's object releases go out on their own thread and are not
    counted."""
    sent = 0
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal sent
        sent += threading.get_ident() == me
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        fn()
    return sent


def test_construct_events_builds_its_columns_once(spark, monkeypatch):
    """A warm session builds construct_events' 66 output Columns (34 higher-order-
    function lambdas among them) only once: a further call on a fresh hook DataFrame
    issues just its filters, two selects and a union. Rebuilding them takes ~5,500
    round trips."""
    construct_events(make_input(spark))
    fresh = make_input(spark, hook_type="POST_EXEC_HOOK")
    assert _round_trips(monkeypatch, lambda: construct_events(fresh)) <= 100


def test_report_chain_builds_its_columns_once(spark, monkeypatch):
    """dedup -> correlate -> three rollups on a warm session. What is left per call is
    mostly list arguments (Py4J sends one command per list element): ~125 round
    trips against ~1,500 when every call rebuilds its Columns."""
    ev = _synthetic_events(spark)

    def chain():
        cor = correlate_submit_complete(deduplicate_events(ev))
        query_log_rollups(cor, "RequestUser")
        query_log_rollups(cor, "Queue", "ExecutionMode")
        query_log_rollups(cor, "Status", "ExecutionEngine")

    chain()
    assert _round_trips(monkeypatch, chain) <= 150


def _hook_rows(spark, prefix):
    tez = [{"task_type": "TEZ", "is_llap": False, "job_id": None}]
    mr = [{"task_type": "MAPRED", "is_llap": None, "job_id": "job_1685098059769_7"}]
    rows = []
    for i, (tasks, outcome) in enumerate([(tez, "POST_EXEC_HOOK"), (mr, "ON_FAILURE_HOOK"), ([], None)]):
        for hook_type in ("PRE_EXEC_HOOK", outcome):
            if hook_type is not None:
                r = dict(BASE_INPUT, query_id=f"{prefix}{i}", hook_type=hook_type, tasks=tasks)
                r["inputs"] = [{"entity_type": "TABLE", "name": f"db@{prefix}{i}"}]
                r["perf"] = {"compile": {"start_millis": 1000 * i, "duration_millis": 0}}
                rows.append(r)
    return spark.createDataFrame(rows, schema=HOOK_INPUT_SCHEMA)


def test_reused_columns_in_one_plan(spark):
    """The same cached Columns twice in one plan — a union of two inputs' events and
    a self-join of one input's events — give the rows the parts give alone."""
    a, b = construct_events(_hook_rows(spark, "a")), construct_events(_hook_rows(spark, "b"))
    a_rows, b_rows = a.collect(), b.collect()
    assert len(a_rows) == 5 and len(b_rows) == 5
    assert sorted(a.unionByName(b).collect(), key=repr) == sorted(a_rows + b_rows, key=repr)

    again = construct_events(_hook_rows(spark, "a"))
    joined = (
        a.alias("x")
        .join(again.alias("y"), F.col("x.QueryId") == F.col("y.QueryId"))
        .select("x.QueryId", "x.EventType", "x.ExecutionMode", "y.EventType", "y.Status")
        .collect()
    )
    want = [
        (x.QueryId, x.EventType, x.ExecutionMode, y.EventType, y.Status)
        for x in a_rows
        for y in a_rows
        if x.QueryId == y.QueryId
    ]
    assert sorted(map(tuple, joined), key=repr) == sorted(want, key=repr)


def test_cached_columns_follow_ansi_conf(spark):
    """A Column is converted to Catalyst when a DataFrame uses it, under the conf of
    that moment: Columns cached under ANSI mode wrap on overflow once it is off.
    The overflow is the running-perf fallback, now - start, with start = Long.MIN."""
    s = spark.newSession()
    raw = make_input(
        s, hook_type="POST_EXEC_HOOK",
        perf={"x": {"start_millis": -(2**63), "duration_millis": 0}},
    )
    s.conf.set("spark.sql.ansi.enabled", "true")
    strict = construct_events(raw)
    cached = dict(s._engine_per_session)
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        strict.collect()
    s.conf.set("spark.sql.ansi.enabled", "false")
    row = construct_events(raw).collect()[0]
    assert json.loads(row.PerfObject) == {"x": 9999 - 2**63}
    assert all(s._engine_per_session[k] is v for k, v in cached.items())


def test_new_session_builds_its_own_columns(spark):
    """spark.newSession() gets its own cache and the same events."""
    want = sorted(construct_events(_hook_rows(spark, "n")).collect(), key=repr)
    s = spark.newSession()
    assert not hasattr(s, "_engine_per_session")
    assert sorted(construct_events(_hook_rows(s, "n")).collect(), key=repr) == want
    mine, theirs = s._engine_per_session, spark._engine_per_session
    assert mine.keys() <= theirs.keys()
    assert all(mine[k] is not theirs[k] for k in mine)


def test_writer_id_column_shape(spark):
    """PRJ10 (utils/IdGenerator.java:22-30): 10-char alnum ids, random per row."""
    from hadoop_migration_assessment_tools_spark.functions.scalars import writer_id

    rows = [r["wid"] for r in spark.range(50).select(writer_id().alias("wid")).collect()]
    assert all(len(w) == 10 and w.isalnum() for w in rows)
    assert len(set(rows)) == 50  # uuid-derived: unique per row


# --- SCD2 merge (operators/scd.py) ---------------------------------------------------


def test_scd2_apply_routes_rows(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from hadoop_migration_assessment_tools_spark.operators.scd import scd2_apply

    t0, t1, t2 = (dt.datetime(2020, 1, 1), dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1))
    dim = spark.createDataFrame(
        [(1, 10.0, t0, None), (2, 20.0, t0, None), (3, 30.0, t0, t1)],
        "k long, v double, valid_from timestamp, valid_to timestamp",
    )
    # update existing key 1, insert brand-new key 9
    updates = spark.createDataFrame(
        [(1, 11.0, t1), (9, 99.0, t1)], "k long, v double, eff_ts timestamp"
    )
    out1 = scd2_apply(dim, updates, "k", "eff_ts", ["v"])
    rows = {(r["k"], r["valid_from"], r["valid_to"]): r["v"] for r in out1.collect()}
    assert rows[(1, t0, t1)] == 10.0       # closed old version
    assert rows[(1, t1, None)] == 11.0     # new current version
    assert rows[(2, t0, None)] == 20.0     # untouched current
    assert rows[(3, t0, t1)] == 30.0       # history passes through
    assert rows[(9, t1, None)] == 99.0     # brand-new key inserts
    assert len(rows) == 5

    # second batch chains: key 1 updated again -> 3 versions, exactly one current
    out2 = scd2_apply(
        out1, spark.createDataFrame([(1, 12.0, t2)], "k long, v double, eff_ts timestamp"),
        "k", "eff_ts", ["v"],
    )
    k1 = sorted(
        (r["valid_from"], r["valid_to"], r["v"])
        for r in out2.filter(F.col("k") == 1).collect()
    )
    assert k1 == [(t0, t1, 10.0), (t1, t2, 11.0), (t2, None, 12.0)]
    assert out2.filter(F.col("valid_to").isNull() & (F.col("k") == 1)).count() == 1


def test_normalize_query_text_goldens(spark):
    from pyspark.sql import functions as F

    from hadoop_migration_assessment_tools_spark.functions.scalars import (
        normalize_query_text,
    )

    cases = [
        ("SELECT * FROM t WHERE id = 42", "select * from t where id = ?"),
        ("select a,b  FROM  T where x='O''Neil corp' and y=7",
         "select a,b from t where x=? and y=?"),
        ("INSERT INTO x VALUES (1, 'a'), (2, 'b')",
         "insert into x values (?, ?), (?, ?)"),
        ("  SELECT\t1\n", "select ?"),
        # digits inside identifiers survive (word-bounded literal stripping):
        # queries over different numbered tables keep distinct fingerprints.
        ("SELECT col2 FROM t1 WHERE k = 10", "select col2 from t1 where k = ?"),
    ]
    df = spark.createDataFrame([(q,) for q, _ in cases], "q: string")
    got = [r["f"] for r in df.select(normalize_query_text(F.col("q")).alias("f")).collect()]
    want = [w for _, w in cases]
    assert got == want
