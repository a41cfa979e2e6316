"""QueryEvents-model analytics, oracle-checked (SURVEY §2.5 JN1, §2.4 AGG5-6, §2.3 FLT7,
§2.2 PRJ8, §2.7 scalar surface).

The driver corpus has no QueryEvents parquet, so each query synthesizes a deterministic
query log from the relational tables *inside the query* — the Spark side builds it
through the real library operators (as_query_events → deduplicate_events →
correlate_submit_complete → rollups/frequency), while the oracle reproduces the final
relational result directly in SQL. A value match therefore certifies the whole operator
chain, not just the SQL shape.

Log synthesis rules (fixed, mirrored in every oracle):
- one query per orders row: QueryId = o_orderkey, user = 'user_' || (o_custkey % 10)
- StartTime = o_orderdate; EndTime = StartTime + (o_orderkey % 3600) seconds
- Status FAIL when o_orderkey % 10 == 0 else SUCCESS
- orphan submissions (never completed) when o_orderkey % 17 == 0
- duplicated completion delivery when o_orderkey % 13 == 0 (exercises DDP1)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions.parity import count_big
from ..functions.scalars import is_supported_hive_version, mr_job_to_application_id
from ..operators.correlate import (
    correlate_submit_complete,
    deduplicate_events,
    table_access_frequency,
)
from ..operators.events import as_query_events
from ..plans.spread import spread_small_scan, table_path
from ..sources.readers import load_table


def _user(col: Column) -> Column:
    return F.concat(F.lit("user_"), (col % 10).cast("string"))


def _spread_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders arrives as one single-row-group parquet file → a 1-task scan, so
    the heavy synthetic-event expression trees (struct/array building, JSON
    encode) ran single-threaded (r13 profiler: 0.6-4 s serial stages across the
    qe_* family). Scale-adaptive: a no-op once the input splits past the core
    count (guide §2.5/§6)."""
    return spread_small_scan(
        load_table(spark, sf_dir, "orders"), table_path(sf_dir, "orders")
    )


def synthetic_query_log(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """Build the deterministic QueryEvents log from orders (rules in module docstring).

    spread defaults to FALSE here (r13 paired A/B over every consumer): the
    log's event construction is light (3 projection branches), and its
    consumers chain dedup windows + correlation joins + checkpoints whose many
    small post-exchange partitions cost more than the spread buys
    (qe_submit_complete_join 1.6 s unspread vs 3.7 spread; user_rollup 1.5 vs
    2.0; mode_migration 1.1 vs 1.9; stream parity 5.8 vs 7.9). The HEAVY
    expression-tree generator (_hook_input_from_orders: struct/array/JSON
    building per row) keeps its spread — 0.7x measured."""
    orders = (
        _spread_orders(spark, sf_dir)
        if spread
        else load_table(spark, sf_dir, "orders")
    )
    qid = F.col("o_orderkey").cast("string")
    sub = as_query_events(
        orders,
        {
            "QueryId": qid,
            "EventType": F.lit("QUERY_SUBMITTED"),
            "QueryType": F.lit("QUERY"),
            "StartTime": F.col("o_orderdate"),
            "RequestUser": _user(F.col("o_custkey")),
            "ExecutionMode": F.when(F.col("o_orderkey") % 3 == 0, "TEZ").otherwise("MR"),
            "Queue": F.concat(F.lit("q"), (F.col("o_orderkey") % 3).cast("string")),
        },
    )
    completed = orders.filter(F.col("o_orderkey") % 17 != 0)
    comp_cols = {
        "QueryId": qid,
        "EventType": F.lit("QUERY_COMPLETED"),
        "EndTime": F.expr("timestampadd(SECOND, o_orderkey % 3600, o_orderdate)"),
        "RequestUser": _user(F.col("o_custkey")),
        "Status": F.when(F.col("o_orderkey") % 10 == 0, "FAIL").otherwise("SUCCESS"),
    }
    comp = as_query_events(completed, comp_cols)
    dup = as_query_events(completed.filter(F.col("o_orderkey") % 13 == 0), comp_cols)
    return sub.unionByName(comp).unionByName(dup)


_LOG_CTES = """
WITH subs AS (
  SELECT
    CAST(o_orderkey AS VARCHAR) AS QueryId,
    'user_' || CAST(o_custkey % 10 AS VARCHAR) AS RequestUser,
    o_orderdate AS StartTime,
    o_orderkey
  FROM orders
), comps AS (
  SELECT
    CAST(o_orderkey AS VARCHAR) AS QueryId,
    o_orderdate + (o_orderkey % 3600) * INTERVAL 1 SECOND AS EndTime,
    CASE WHEN o_orderkey % 10 = 0 THEN 'FAIL' ELSE 'SUCCESS' END AS Status
  FROM orders
  WHERE o_orderkey % 17 <> 0
  -- duplicate deliveries collapse in the dedup the engine applies; the oracle simply
  -- never materializes them
)
"""


# --- qe_submit_complete_join --------------------------------------------------------
# JN1 through the real operator chain: dedup -> correlate -> duration.


def qe_submit_complete_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = synthetic_query_log(spark, sf_dir)
    corr = correlate_submit_complete(deduplicate_events(log))
    return corr.select(
        "QueryId",
        "RequestUser",
        "StartTime",
        "EndTime",
        "Status",
        F.col("DurationMillis").cast("long").alias("duration_ms"),
    )


QE_SUBMIT_COMPLETE_ORACLE = (
    _LOG_CTES
    + """
SELECT
  s.QueryId,
  s.RequestUser,
  s.StartTime,
  c.EndTime,
  c.Status,
  CAST(epoch_ms(c.EndTime) - epoch_ms(s.StartTime) AS BIGINT) AS duration_ms
FROM subs s LEFT JOIN comps c ON s.QueryId = c.QueryId
"""
)


# --- qe_user_rollup -----------------------------------------------------------------
# AGG5 assessment rollup per user, duration stats exact (long millis).


def qe_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = synthetic_query_log(spark, sf_dir)
    corr = correlate_submit_complete(deduplicate_events(log))
    completed = F.count(F.col("EndTime")).cast("long")
    return (
        corr.groupBy("RequestUser")
        .agg(
            count_big("query_count"),
            completed.alias("completed_count"),
            F.sum(F.when(F.col("Status") == "FAIL", 1).otherwise(0))
            .cast("long")
            .alias("failed_count"),
            F.sum(F.when(F.col("EndTime").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("orphan_count"),
            F.sum("DurationMillis").cast("long").alias("total_duration_ms"),
            F.when(
                completed > 0,
                F.round(F.sum("DurationMillis").cast("double") / completed, 6),
            ).alias("avg_duration_ms"),
        )
        .orderBy("RequestUser")
    )


QE_USER_ROLLUP_ORACLE = (
    _LOG_CTES
    + """
SELECT
  s.RequestUser,
  CAST(COUNT(*) AS BIGINT) AS query_count,
  CAST(COUNT(c.EndTime) AS BIGINT) AS completed_count,
  CAST(SUM(CASE WHEN c.Status = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS failed_count,
  CAST(SUM(CASE WHEN c.EndTime IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_count,
  CAST(SUM(epoch_ms(c.EndTime) - epoch_ms(s.StartTime)) AS BIGINT) AS total_duration_ms,
  CASE WHEN COUNT(c.EndTime) > 0 THEN
    ROUND(CAST(SUM(epoch_ms(c.EndTime) - epoch_ms(s.StartTime)) AS DOUBLE) / COUNT(c.EndTime), 6)
  END AS avg_duration_ms
FROM subs s LEFT JOIN comps c ON s.QueryId = c.QueryId
GROUP BY s.RequestUser
ORDER BY s.RequestUser
"""
)


# --- qe_table_read_frequency --------------------------------------------------------
# AGG6 through the real operator: per-order entity arrays -> explode -> counts -> rank.
# The oracle computes the same frequencies straight from lineitem — a match certifies
# the collect_set/explode chain end to end.


def qe_table_read_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    read_table = F.concat(F.lit("db@part_"), (F.col("l_partkey") % 50).cast("string"))
    write_table = F.concat(F.lit("db@sink_"), (F.col("l_orderkey") % 7).cast("string"))
    per_query = li.groupBy("l_orderkey").agg(
        F.sort_array(F.array_distinct(F.collect_list(read_table))).alias("TablesRead"),
        F.array_distinct(F.collect_list(write_table)).alias("TablesWritten"),
    )
    events = as_query_events(
        per_query,
        {
            "QueryId": F.col("l_orderkey").cast("string"),
            "EventType": F.lit("QUERY_SUBMITTED"),
            "TablesRead": F.col("TablesRead"),
            "TablesWritten": F.col("TablesWritten"),
        },
    )
    freq = table_access_frequency(events)
    return freq.select("table_name", "read_count", "write_count", "total_count", "hot_rank")


QE_TABLE_READ_FREQUENCY_ORACLE = """
WITH reads AS (
  SELECT 'db@part_' || CAST(l_partkey % 50 AS VARCHAR) AS table_name,
         COUNT(DISTINCT l_orderkey) AS read_count
  FROM lineitem GROUP BY 1
), writes AS (
  SELECT 'db@sink_' || CAST(l_orderkey % 7 AS VARCHAR) AS table_name,
         COUNT(DISTINCT l_orderkey) AS write_count
  FROM lineitem GROUP BY 1
), merged AS (
  SELECT
    COALESCE(r.table_name, w.table_name) AS table_name,
    CAST(COALESCE(r.read_count, 0) AS BIGINT) AS read_count,
    CAST(COALESCE(w.write_count, 0) AS BIGINT) AS write_count,
    CAST(COALESCE(r.read_count, 0) + COALESCE(w.write_count, 0) AS BIGINT) AS total_count
  FROM reads r FULL OUTER JOIN writes w ON r.table_name = w.table_name
)
SELECT *,
  CAST(ROW_NUMBER() OVER (ORDER BY total_count DESC, table_name ASC) AS BIGINT) AS hot_rank
FROM merged
"""


# --- qe_version_gate ----------------------------------------------------------------
# PRJ8 version gate over synthesized version strings (valid + garbage mix).


def qe_version_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    version = F.when(F.col("s_suppkey") % 5 == 0, F.lit("garbage")).otherwise(
        F.concat(
            (F.col("s_suppkey") % 4 + 1).cast("string"),
            F.lit("."),
            (F.col("s_suppkey") % 6).cast("string"),
            F.lit("."),
            (F.col("s_suppkey") % 10).cast("string"),
        )
    )
    df = supp.select("s_suppkey", version.alias("hive_version"))
    return (
        df.withColumn("supported", is_supported_hive_version(F.col("hive_version")))
        .groupBy("hive_version", "supported")
        .agg(count_big("n"))
        .orderBy("hive_version")
    )


QE_VERSION_GATE_ORACLE = """
WITH versions AS (
  SELECT
    CASE WHEN s_suppkey % 5 = 0 THEN 'garbage'
         ELSE CAST(s_suppkey % 4 + 1 AS VARCHAR) || '.' ||
              CAST(s_suppkey % 6 AS VARCHAR) || '.' ||
              CAST(s_suppkey % 10 AS VARCHAR)
    END AS hive_version
  FROM supplier
), flagged AS (
  SELECT
    hive_version,
    COALESCE(
      CASE WHEN TRY_CAST(regexp_extract(hive_version, '^(\\d+)\\.(\\d+).*', 1) AS BIGINT) IS NULL
             OR TRY_CAST(regexp_extract(hive_version, '^(\\d+)\\.(\\d+).*', 2) AS BIGINT) IS NULL
           THEN FALSE
           WHEN TRY_CAST(regexp_extract(hive_version, '^(\\d+)\\.(\\d+).*', 1) AS BIGINT) = 2
           THEN TRY_CAST(regexp_extract(hive_version, '^(\\d+)\\.(\\d+).*', 2) AS BIGINT) >= 2
           ELSE TRY_CAST(regexp_extract(hive_version, '^(\\d+)\\.(\\d+).*', 1) AS BIGINT) = 3
      END, FALSE) AS supported
  FROM versions
)
SELECT hive_version, supported, CAST(COUNT(*) AS BIGINT) AS n
FROM flagged
GROUP BY 1, 2
ORDER BY hive_version
"""


# --- qe_partition_names -------------------------------------------------------------
# FLT2 partition-identity arrays ('db@table@k=v') with set semantics, per query.


def qe_partition_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    pname = F.concat(F.lit("db@lineitem@returnflag="), F.col("l_returnflag"))
    parts = F.sort_array(F.array_distinct(F.collect_list(pname)))
    # emitted as a joined string, not an array: array cells are a hash-compare hazard
    # in downstream harnesses; the sorted join is the same set identity
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws("|", parts).alias("partitions_read"),
            F.size(parts).cast("long").alias("n_partitions"),
        )
        .orderBy("l_orderkey")
    )


QE_PARTITION_NAMES_ORACLE = """
SELECT
  l_orderkey,
  array_to_string(list_sort(list(DISTINCT 'db@lineitem@returnflag=' || l_returnflag)), '|') AS partitions_read,
  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_partitions
FROM lineitem
WHERE l_orderkey % 100 = 0
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


# --- qe_app_id_first_match ----------------------------------------------------------
# FLT7 + WIN1: convert job ids (skipping malformed), first per user in time order.


def qe_app_id_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    job_id = F.when(F.col("event_id") % 7 == 0, F.lit("malformed")).otherwise(
        F.concat(
            F.lit("job_17000"),
            F.col("user_id").cast("string"),
            F.lit("_"),
            F.col("event_id").cast("string"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("app_id", mr_job_to_application_id(job_id))
        .filter(F.col("app_id").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "app_id", F.col("event_id").alias("first_event_id"))
        .orderBy("user_id")
    )


QE_APP_ID_FIRST_MATCH_ORACLE = """
WITH converted AS (
  SELECT
    user_id, ts, event_id,
    CASE WHEN event_id % 7 <> 0 THEN
      'application_17000' || CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR)
    END AS app_id
  FROM events
), ranked AS (
  SELECT user_id, app_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM converted
  WHERE app_id IS NOT NULL
)
SELECT user_id, app_id, event_id AS first_event_id
FROM ranked WHERE rn = 1
ORDER BY user_id
"""


# --- qe_counters_roundtrip ----------------------------------------------------------
# AGG1 consumption end to end: build the nested counters structure from lineitem
# (one "job" per order, one counter group per returnflag), serialize it with the real
# counters_json operator (the [[{group:{counter:long}}]] shape of
# EventRecordConstructor.java:223-253), re-parse with COUNTERS_OBJECT_SCHEMA, explode,
# and re-aggregate. The oracle computes the same totals without ever touching JSON —
# a match certifies serialize -> parse -> consume for the counters escape hatch.


def qe_counters_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import counters_json
    from ..schema import COUNTERS_OBJECT_SCHEMA

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    per_group = li.groupBy("l_orderkey", "l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    per_job = per_group.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.concat(F.lit("flag_"), F.col("l_returnflag")).alias("group"),
                F.create_map(
                    F.lit("qty"), F.col("qty"), F.lit("cnt"), F.col("cnt")
                ).alias("counters"),
            )
        ).alias("groups")
    )
    serialized = per_job.select(
        "l_orderkey", counters_json(F.array(F.col("groups"))).alias("counters_obj")
    )
    parsed = serialized.select(
        "l_orderkey",
        F.from_json(F.col("counters_obj"), COUNTERS_OBJECT_SCHEMA).alias("jobs"),
    )
    exploded = (
        parsed.select("l_orderkey", F.explode("jobs").alias("job"))
        .select("l_orderkey", F.explode("job").alias("group_map"))
        .select("l_orderkey", F.explode("group_map").alias("group_name", "counters"))
        .select("l_orderkey", "group_name", F.explode("counters").alias("counter_name", "val"))
    )
    return (
        exploded.groupBy("group_name", "counter_name")
        .agg(
            F.sum("val").cast("long").alias("total"),
            count_big("n_jobs"),
        )
        .orderBy("group_name", "counter_name")
    )


QE_COUNTERS_ROUNDTRIP_ORACLE = """
WITH per_group AS (
  SELECT
    l_orderkey,
    'flag_' || l_returnflag AS group_name,
    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem
  WHERE l_orderkey % 20 = 0
  GROUP BY l_orderkey, l_returnflag
), unpivoted AS (
  SELECT l_orderkey, group_name, 'qty' AS counter_name, qty AS val FROM per_group
  UNION ALL
  SELECT l_orderkey, group_name, 'cnt' AS counter_name, cnt AS val FROM per_group
)
SELECT
  group_name, counter_name,
  CAST(SUM(val) AS BIGINT) AS total,
  CAST(COUNT(*) AS BIGINT) AS n_jobs
FROM unpivoted
GROUP BY group_name, counter_name
ORDER BY group_name, counter_name
"""


# --- qe_event_chain -----------------------------------------------------------------
# The whole pre-event construction chain scored in one hash: synthesize raw
# HOOK_INPUT rows from orders (task DAGs across all 6 execution-mode buckets, entity
# sets with planted duplicates, nullable hook users, both instance types, unknown
# hook types and null plans to drop), run the REAL construct_events operator
# (FLT4/FLT5 gates -> PRJ1 projection -> PRJ3 user coalesce -> PRJ5 HS2/CLI ->
# PRJ6 queue dispatch -> PRJ7 mode classifier -> FLT1-3 extraction with set
# semantics), and roll up. The oracle re-derives every classification relationally.


def _hook_input_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schema import HOOK_INPUT_SCHEMA

    orders = _spread_orders(spark, sf_dir)
    k = F.col("o_orderkey")
    cust = (F.col("o_custkey") % 10).cast("string")
    bucket = k % 6

    def task(typ: str, llap: bool = False) -> Column:
        return F.struct(
            F.lit(typ).alias("task_type"),
            F.lit(llap).alias("is_llap"),
            F.lit(None).cast("string").alias("job_id"),
        )

    task_type = HOOK_INPUT_SCHEMA["tasks"].dataType
    tasks = (
        F.when(bucket == 0, F.array().cast(task_type))
        .when(bucket == 1, F.array(task("TEZ", True)))
        .when(bucket == 2, F.array(task("TEZ", False)))
        .when(bucket == 3, F.array(task("MAPRED")))
        .when(bucket == 4, F.array(task("SPARK")))
        .otherwise(F.array(task("DDL")))
        .cast(task_type)
    )

    def entity(etype: str, name: Column) -> Column:
        return F.struct(F.lit(etype).alias("entity_type"), name.alias("name"))

    t_a = F.concat(F.lit("db@t"), (k % 5).cast("string"))
    t_b = F.concat(F.lit("db@t"), (k % 7).cast("string"))
    inputs = F.array(
        entity("TABLE", t_a),
        entity("TABLE", t_a),  # duplicate: FLT1 set semantics must collapse it
        entity("TABLE", t_b),
        entity("DATABASE", F.lit("db")),
        entity("PARTITION", F.concat(F.lit("db@t@flag="), (k % 2).cast("string"))),
    )
    outputs = F.array(entity("TABLE", F.concat(F.lit("db@sink"), (k % 3).cast("string"))))

    provided: dict[str, Column] = {
        # FLT5: unknown hook types are logged+dropped; FLT4: null plan dropped
        "hook_type": F.when(k % 23 == 0, "UNKNOWN").otherwise("PRE_EXEC_HOOK"),
        "query_id": F.when(k % 29 != 0, k.cast("string")),
        "query_type": F.lit("QUERY"),
        "query_text": F.lit("SELECT * FROM employees"),
        "query_start_time": F.col("o_orderdate").cast("timestamp"),
        "hook_user_name": F.when(k % 4 != 0, F.concat(F.lit("hu"), cust)),  # PRJ3
        "ugi_user_name": F.concat(F.lit("ugi"), cust),
        "is_hs2": (k % 2 == 0),  # PRJ5
        "queue_mr": F.concat(F.lit("mrq"), (k % 3).cast("string")),  # PRJ6
        "queue_tez": F.concat(F.lit("tezq"), (k % 3).cast("string")),
        "queue_llap": F.concat(F.lit("llapq"), (k % 3).cast("string")),
        "tasks": tasks,  # PRJ7
        "inputs": inputs,  # FLT1-3
        "outputs": outputs,
    }
    cols = [
        (provided[f.name] if f.name in provided else F.lit(None))
        .cast(f.dataType)
        .alias(f.name)
        for f in HOOK_INPUT_SCHEMA.fields
    ]
    return orders.select(*cols)


def qe_event_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import construct_events

    events = construct_events(_hook_input_from_orders(spark, sf_dir))
    return (
        events.groupBy("ExecutionMode", "Queue", "HiveInstanceType")
        .agg(
            count_big("n_events"),
            F.count_distinct("RequestUser").cast("long").alias("n_users"),
            F.sum(F.when(F.col("RequestUser").startswith("hu"), 1).otherwise(0))
            .cast("long")
            .alias("n_hook_user"),
            F.sum(F.size("TablesRead")).cast("long").alias("sum_tables_read"),
            F.sum(F.size("TablesWritten")).cast("long").alias("sum_tables_written"),
            F.sum(F.size("PartitionsRead")).cast("long").alias("sum_partitions_read"),
            F.sum(F.size("DatabasesRead")).cast("long").alias("sum_databases_read"),
        )
        .orderBy("ExecutionMode", "Queue", "HiveInstanceType")
    )


QE_EVENT_CHAIN_ORACLE = """
WITH raw AS (
  SELECT
    o_orderkey AS k,
    CAST(o_custkey % 10 AS VARCHAR) AS cust,
    CASE o_orderkey % 6
      WHEN 0 THEN 'CLIENT_ONLY' WHEN 1 THEN 'LLAP' WHEN 2 THEN 'TEZ'
      WHEN 3 THEN 'MR' WHEN 4 THEN 'SPARK' ELSE 'DDL' END AS mode
  FROM orders
  WHERE o_orderkey % 23 <> 0   -- FLT5 unknown hook type dropped
    AND o_orderkey % 29 <> 0   -- FLT4 null plan dropped
), shaped AS (
  SELECT
    mode AS ExecutionMode,
    CASE mode
      WHEN 'LLAP' THEN 'llapq' || CAST(k % 3 AS VARCHAR)
      WHEN 'MR'   THEN 'mrq'   || CAST(k % 3 AS VARCHAR)
      WHEN 'TEZ'  THEN 'tezq'  || CAST(k % 3 AS VARCHAR)
    END AS Queue,
    CASE WHEN k % 2 = 0 THEN 'HS2' ELSE 'CLI' END AS HiveInstanceType,
    CASE WHEN k % 4 <> 0 THEN 'hu' || cust ELSE 'ugi' || cust END AS RequestUser,
    CASE WHEN k % 5 = k % 7 THEN 1 ELSE 2 END AS tables_read_n
  FROM raw
)
SELECT
  ExecutionMode, Queue, HiveInstanceType,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT RequestUser) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN RequestUser LIKE 'hu%' THEN 1 ELSE 0 END) AS BIGINT) AS n_hook_user,
  CAST(SUM(tables_read_n) AS BIGINT) AS sum_tables_read,
  CAST(COUNT(*) AS BIGINT) AS sum_tables_written,
  CAST(COUNT(*) AS BIGINT) AS sum_partitions_read,
  CAST(COUNT(*) AS BIGINT) AS sum_databases_read
FROM shaped
GROUP BY ExecutionMode, Queue, HiveInstanceType
ORDER BY ExecutionMode, Queue, HiveInstanceType
"""


# --- qe_yarn_enrichment -------------------------------------------------------------
# JN2 + JN3 + FLT7 scored: post-hook events carry MR job ids (some malformed — the
# FLT7 skip), the REAL construct_events derives YarnApplicationId (JN3) and broadcast-
# left-joins the applications lookup (JN2) to overwrite host + queue; absent apps
# leave them null (YarnApplicationRetriever.java:38-50 silently-skipped enrichment).
# The oracle reproduces the whole derivation relationally from orders x supplier.


def qe_yarn_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import construct_events
    from ..schema import HOOK_INPUT_SCHEMA

    orders = _spread_orders(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    k = F.col("o_orderkey")

    job_id = F.when(k % 11 == 0, F.lit("not_a_job_id")).otherwise(
        F.concat(F.lit("job_1700000000000_"), (k % 150 + 1).cast("string"))
    )
    task_type = HOOK_INPUT_SCHEMA["tasks"].dataType
    provided: dict[str, Column] = {
        "hook_type": F.lit("POST_EXEC_HOOK"),
        "query_id": k.cast("string"),
        "event_time": F.col("o_orderdate").cast("timestamp"),
        "tasks": F.array(
            F.struct(
                F.lit("MAPRED").alias("task_type"),
                F.lit(False).alias("is_llap"),
                job_id.alias("job_id"),
            )
        ).cast(task_type),
    }
    raw = orders.select(
        *[
            (provided[f.name] if f.name in provided else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in HOOK_INPUT_SCHEMA.fields
        ]
    )
    apps = supplier.select(
        F.concat(F.lit("application_1700000000000_"), F.col("s_suppkey").cast("string")).alias(
            "application_id"
        ),
        F.concat(F.lit("host"), (F.col("s_suppkey") % 20).cast("string")).alias("host"),
        F.concat(F.lit("yq"), (F.col("s_suppkey") % 5).cast("string")).alias("queue"),
    )
    events = construct_events(raw, yarn_applications=apps)
    return (
        events.groupBy("Queue")
        .agg(
            count_big("n_events"),
            F.sum(F.when(F.col("HiveHostName").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
            F.count_distinct("YarnApplicationId").cast("long").alias("n_distinct_apps"),
        )
        .orderBy("Queue")
    )


QE_YARN_ENRICHMENT_ORACLE = """
WITH ev AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 11 <> 0 THEN o_orderkey % 150 + 1 END AS ref
  FROM orders
), joined AS (
  SELECT
    CASE WHEN s.s_suppkey IS NOT NULL THEN 'yq' || CAST(s.s_suppkey % 5 AS VARCHAR) END AS Queue,
    CASE WHEN s.s_suppkey IS NOT NULL THEN 1 ELSE 0 END AS matched,
    CASE WHEN ev.ref IS NOT NULL
         THEN 'application_1700000000000_' || CAST(ev.ref AS VARCHAR) END AS app_id
  FROM ev LEFT JOIN supplier s ON ev.ref = s.s_suppkey
)
SELECT Queue,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(matched) AS BIGINT) AS n_matched,
       CAST(COUNT(DISTINCT app_id) AS BIGINT) AS n_distinct_apps
FROM joined
GROUP BY Queue
ORDER BY Queue
"""


# --- qe_avro_roundtrip --------------------------------------------------------------
# SRC2/SRC3/SRC6 scored end to end: a subset of the synthetic log goes through the
# REAL avro sink (distributed pure-Python OCF write, reference dir/file layout) and
# the REAL avro reader (binaryFile + mapInArrow OCF decode), then aggregates per
# EventType.
# The oracle reproduces the same totals straight from orders — a hash match certifies
# the whole persistence roundtrip: schema bridge, binary encoding, timestamp-millis
# logical type, day routing, and the multi-file union (SET1).


def qe_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..config import scratch_dir
    from ..sources.readers import read_event_log
    from ..sources.sink import DatePartitionedSink

    # % 20 subset bounds the serial encode cost, and timestamps are rebased onto a
    # 4-day window: the raw log spans ~2400 order dates, which the date-partitioned
    # sink would faithfully explode into ~2400 one-file days — a pathological layout
    # no real hook deployment produces (logs cover days, not decades).
    k = F.col("QueryId").cast("long")
    rebased_ts = F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(
        days=(k % 4).cast("int"), secs=(k % 86400).cast("double")
    )
    log = (
        synthetic_query_log(spark, sf_dir)
        .filter(k % 20 == 0)
        .withColumn("StartTime", F.when(F.col("StartTime").isNotNull(), rebased_ts))
        .withColumn("EndTime", F.when(F.col("EndTime").isNotNull(), rebased_ts))
    )
    tmp = scratch_dir("qe_avro_rt", sf_dir, wipe=True)  # OCF writer appends
    DatePartitionedSink(tmp, fmt="avro").write_batch(log)
    back = read_event_log(spark, tmp, fmt="avro")
    return (
        back.groupBy("EventType")
        .agg(
            count_big("n_events"),
            F.count_distinct("RequestUser").cast("long").alias("n_users"),
            F.sum(F.unix_millis(F.coalesce("StartTime", "EndTime")))
            .cast("long")
            .alias("sum_ts_ms"),
            F.count_distinct("EventDate").cast("long").alias("n_days"),
        )
        .orderBy("EventType")
    )


QE_AVRO_ROUNDTRIP_ORACLE = """
WITH rebased AS (
  SELECT o_orderkey, o_custkey,
         epoch_ms(TIMESTAMP '2024-01-01 00:00:00')
           + (o_orderkey % 4) * 86400000
           + (o_orderkey % 86400) * 1000 AS ts_ms,
         o_orderkey % 4 AS day_bucket
  FROM orders WHERE o_orderkey % 20 = 0
), subs AS (
  SELECT 'QUERY_SUBMITTED' AS EventType,
         'user_' || CAST(o_custkey % 10 AS VARCHAR) AS u,
         ts_ms, day_bucket AS d
  FROM rebased
), comps_base AS (
  SELECT * FROM rebased WHERE o_orderkey % 17 <> 0
), comps AS (
  -- completions, with the % 13 duplicate delivery materialized (the sink persists
  -- duplicates; dedup is a downstream consumer concern)
  SELECT 'QUERY_COMPLETED' AS EventType,
         'user_' || CAST(o_custkey % 10 AS VARCHAR) AS u,
         ts_ms, day_bucket AS d
  FROM comps_base
  UNION ALL
  SELECT 'QUERY_COMPLETED',
         'user_' || CAST(o_custkey % 10 AS VARCHAR),
         ts_ms, day_bucket
  FROM comps_base WHERE o_orderkey % 13 = 0
), unioned AS (
  SELECT * FROM subs UNION ALL SELECT * FROM comps
)
SELECT EventType,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
       CAST(SUM(ts_ms) AS BIGINT) AS sum_ts_ms,
       CAST(COUNT(DISTINCT d) AS BIGINT) AS n_days
FROM unioned
GROUP BY EventType
ORDER BY EventType
"""


# --- qe_stream_batch_parity ---------------------------------------------------------
# STR8 + DDP1 scored end to end (VERDICT r1 next-round #8, upgraded from rows-only to
# a full oracle): the synthetic log is file-streamed through the REAL streaming chain
# — the watermarked stream-stream inner pairing with its in-join DDP1 dedup
# (dropDuplicatesWithinWatermark per side) — into a memory sink, then compared
# row-for-row against the batch JN1 chain (deduplicate_events ->
# correlate_submit_complete). The summary (stream rows, batch rows, exact row
# matches) is deterministic, so DuckDB can assert it relationally: every count must
# equal the completed-query count.


def qe_stream_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..config import scratch_dir
    from ..schema import QUERY_EVENTS_SCHEMA
    from ..streaming.pairing import pair_submit_complete_stream

    # % 5 subset bounds the stateful-operator volume; the parity proof is identical.
    # (r7 note: persisting `log` across the write and batch legs was measured and
    # NOT adopted — the synthetic-log derivation is cheaper than the cache fill.)
    log = synthetic_query_log(spark, sf_dir).filter(
        F.col("QueryId").cast("long") % 5 == 0
    )
    tmp = scratch_dir("qe_stream_parity", sf_dir, wipe=True)  # fresh checkpoint
    src = f"{tmp}/src"
    # write only the columns the pairing consumes — column pruning for the file
    # stream source the same way a scan would prune a real log table
    stream_cols = [
        "QueryId", "EventType", "QueryText", "RequestUser", "ExecutionMode",
        "Queue", "StartTime", "EndTime", "Status", "ErrorMessage",
    ]
    # r14: 16 source files instead of coalesce(2) — the synthetic-log
    # derivation runs 16-way instead of as two 2.4 s serial tasks, and the
    # stream's per-branch map stages (profiled 4-5 s single-task each) get
    # real parallelism once maxPartitionBytes/openCost stop packing every
    # file into one split (restored with the other stream confs below).
    log.select(*stream_cols).repartition(16).write.mode("overwrite").parquet(src)

    from pyspark.sql import types as T

    src_schema = T.StructType([QUERY_EVENTS_SCHEMA[c] for c in stream_cols])
    stream = spark.readStream.schema(src_schema).parquet(src)
    paired = pair_submit_complete_stream(
        stream,
        watermark="1 hour",
        how="inner",
        dedup=True,  # DDP1 in-stream: duplicate completion deliveries collapse
    )
    table = f"qe_stream_parity_{uuid.uuid4().hex[:8]}"
    # State-store count scales with shuffle partitions (5 stateful operators x N
    # partitions x checkpoint files); 2 is plenty for this volume (r7: measured
    # indistinguishable from 4 — the stream cost is fixed micro-batch machinery,
    # not data). Session-restored after the stream finishes.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    # one scan task per source file (default openCost packs ~30 small files
    # into one split); session-restored below with the other stream confs
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))
    # No-data micro-batches exist to advance the watermark so watermark-GATED
    # output (outer-join nulls, appended window finals) can emit with no new
    # input. This query's operators emit on DATA batches — inner join emits
    # matches immediately, dropDuplicatesWithinWatermark emits first-seen rows
    # immediately (the watermark only bounds state eviction) — so the extra
    # empty batches are pure state-store commit overhead: ~2.3 s of the leg's
    # ~4.6 s at sf0.1, output row-for-row identical (A/B-measured, r7).
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        (
            paired.writeStream.format("memory")
            .queryName(table)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)
    streamed = spark.table(table).select(
        "QueryId", "RequestUser", "StartTime", "EndTime", "Status", "DurationMillis"
    )

    batch = (
        correlate_submit_complete(deduplicate_events(log))
        .filter(F.col("EndTime").isNotNull())
        .select("QueryId", "RequestUser", "StartTime", "EndTime", "Status", "DurationMillis")
    )
    match_cols = ["QueryId", "RequestUser", "StartTime", "EndTime", "Status", "DurationMillis"]
    # ONE job for the scalar summary (the events_funnel discipline): three 1-row
    # aggregates cross-joined declaratively, so the batch chain is planned once and
    # ReuseExchange shares it between its count and the match join.
    a_stream = streamed.agg(F.count(F.lit(1)).cast("long").alias("n_stream_rows"))
    a_batch = batch.agg(F.count(F.lit(1)).cast("long").alias("n_batch_rows"))
    a_match = streamed.join(batch, match_cols, "inner").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_matches")
    )
    return a_stream.crossJoin(a_batch).crossJoin(a_match)


QE_STREAM_BATCH_PARITY_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_stream_rows,
  CAST(COUNT(*) AS BIGINT) AS n_batch_rows,
  CAST(COUNT(*) AS BIGINT) AS n_exact_matches
FROM orders
WHERE o_orderkey % 5 = 0 AND o_orderkey % 17 <> 0
"""


# --- qe_perf_roundtrip --------------------------------------------------------------
# AGG2 consumption end to end (EventRecordConstructor.java:255-271): build per-query
# perf entries (start, duration) from orders — including still-running entries
# (duration 0) that must resolve to event_time - start — serialize with the real
# perf_json operator, re-parse with PERF_OBJECT_SCHEMA, explode, re-aggregate. The
# oracle computes the same totals without touching JSON; a match certifies
# serialize -> parse -> consume for the perf escape hatch including the fallback.


def qe_perf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.events import perf_json
    from ..schema import PERF_OBJECT_SCHEMA

    orders = _spread_orders(spark, sf_dir)
    start_ms = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    event_time = F.expr(
        "timestampadd(SECOND, o_orderkey % 3600, CAST(o_orderdate AS TIMESTAMP))"
    )
    perf = F.map_from_arrays(
        F.array(F.lit("compile"), F.lit("execute")),
        F.array(
            F.struct(
                start_ms.alias("start_millis"),
                (F.col("o_orderkey") % 1000).cast("long").alias("duration_millis"),
            ),
            F.struct(
                (start_ms + 100).alias("start_millis"),
                # duration 0 == still running -> perf_json falls back to now - start
                F.when(F.col("o_orderkey") % 5 == 0, F.lit(0))
                .otherwise(F.col("o_orderkey") % 777)
                .cast("long")
                .alias("duration_millis"),
            ),
        ),
    )
    serialized = orders.select(
        "o_orderkey", perf_json(perf, event_time).alias("perf_obj")
    )
    parsed = serialized.select(
        "o_orderkey", F.from_json("perf_obj", PERF_OBJECT_SCHEMA).alias("perf_map")
    )
    exploded = parsed.select(F.explode("perf_map").alias("perf_key", "dur"))
    return (
        exploded.groupBy("perf_key")
        .agg(
            F.sum("dur").cast("long").alias("total_ms"),
            count_big("n_entries"),
            F.max("dur").cast("long").alias("max_ms"),
        )
        .orderBy("perf_key")
    )


QE_PERF_ROUNDTRIP_ORACLE = """
WITH per AS (
  SELECT o_orderkey, (o_orderkey % 3600) * 1000 AS evt_off_ms FROM orders
), unp AS (
  SELECT 'compile' AS perf_key,
         CAST(CASE WHEN o_orderkey % 1000 = 0 THEN evt_off_ms
                   ELSE o_orderkey % 1000 END AS BIGINT) AS dur
  FROM per
  UNION ALL
  SELECT 'execute',
         -- fallback fires for ANY zero duration, incl. o_orderkey % 777 = 0
         CAST(CASE WHEN o_orderkey % 5 = 0 OR o_orderkey % 777 = 0
                   THEN evt_off_ms - 100
                   ELSE o_orderkey % 777 END AS BIGINT)
  FROM per
)
SELECT perf_key,
       CAST(SUM(dur) AS BIGINT) AS total_ms,
       CAST(COUNT(*) AS BIGINT) AS n_entries,
       CAST(MAX(dur) AS BIGINT) AS max_ms
FROM unp
GROUP BY perf_key
ORDER BY perf_key
"""


# --- qe_tables_read_and_written -----------------------------------------------------
# SET2 intra-row form (SURVEY §2.6): array_intersect on the entity arrays — the
# "tables both read and written by the same query" report. Arrays are built
# Spark-side with the real set semantics; the oracle derives the same answer
# relationally (the write bucket overlaps the read set iff the order touches a part
# in its own bucket).


def qe_tables_read_and_written(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 11 == 0)
    read_table = F.concat(F.lit("db@part_"), (F.col("l_partkey") % 50).cast("string"))
    write_table = F.concat(F.lit("db@part_"), (F.col("l_orderkey") % 50).cast("string"))
    per_query = li.groupBy("l_orderkey").agg(
        F.array_distinct(F.collect_list(read_table)).alias("tables_read"),
        F.array_distinct(F.collect_list(write_table)).alias("tables_written"),
    )
    overlap = F.sort_array(F.array_intersect("tables_read", "tables_written"))
    return per_query.select(
        "l_orderkey",
        F.concat_ws("|", overlap).alias("read_and_written"),
        F.size(overlap).cast("long").alias("n_overlap"),
    ).orderBy("l_orderkey")


QE_TABLES_READ_AND_WRITTEN_ORACLE = """
SELECT
  l_orderkey,
  CASE WHEN SUM(CASE WHEN l_partkey % 50 = l_orderkey % 50 THEN 1 ELSE 0 END) > 0
       THEN 'db@part_' || CAST(l_orderkey % 50 AS VARCHAR) ELSE '' END AS read_and_written,
  CAST(CASE WHEN SUM(CASE WHEN l_partkey % 50 = l_orderkey % 50 THEN 1 ELSE 0 END) > 0
       THEN 1 ELSE 0 END AS BIGINT) AS n_overlap
FROM lineitem
WHERE l_orderkey % 11 = 0
GROUP BY l_orderkey
ORDER BY l_orderkey
"""


# --- qe_query_fingerprints -----------------------------------------------------------
# Workload fingerprinting over QueryText (avsc:21-28): deterministic SQL-ish texts
# (three templates with per-row literals) normalized by functions/scalars.py:
# normalize_query_text — structurally identical queries collapse to one fingerprint
# regardless of their literals. The assessment report: per-shape volume, distinct
# users, failure counts. Oracle runs the IDENTICAL regex pipeline in DuckDB.


def qe_query_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalars import normalize_query_text

    orders = _spread_orders(spark, sf_dir)
    text = (
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(
                F.lit("SELECT * FROM orders WHERE o_orderkey = "),
                F.col("o_orderkey").cast("string"),
            ),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.concat(
                F.lit("select  o_totalprice,o_orderdate   FROM Orders WHERE o_custkey="),
                F.col("o_custkey").cast("string"),
                F.lit(" AND o_orderpriority = '"),
                F.col("o_orderpriority"),
                F.lit("'"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("INSERT INTO target SELECT "),
                F.col("o_orderkey").cast("string"),
                F.lit(", '"),
                F.col("o_orderstatus"),
                F.lit("' FROM src WHERE id IN ("),
                F.col("o_orderkey").cast("string"),
                F.lit(", "),
                F.col("o_custkey").cast("string"),
                F.lit(")"),
            )
        )
    )
    log = orders.select(
        F.col("o_orderkey"),
        _user(F.col("o_custkey")).alias("RequestUser"),
        F.when(F.col("o_orderkey") % 10 == 0, "FAIL").otherwise("SUCCESS").alias("Status"),
        text.alias("QueryText"),
    )
    return (
        log.withColumn("fingerprint", normalize_query_text(F.col("QueryText")))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.countDistinct("RequestUser").cast("long").alias("n_users"),
            F.sum(F.when(F.col("Status") == "FAIL", 1).otherwise(0))
            .cast("long")
            .alias("n_failed"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        )
        .orderBy("fingerprint")
    )


QE_QUERY_FINGERPRINTS_ORACLE = r"""
WITH texts AS (
  SELECT o_orderkey,
         'user_' || CAST(o_custkey % 10 AS VARCHAR) AS request_user,
         CASE WHEN o_orderkey % 10 = 0 THEN 'FAIL' ELSE 'SUCCESS' END AS status,
         CASE CAST(o_orderkey % 3 AS INTEGER)
           WHEN 0 THEN 'SELECT * FROM orders WHERE o_orderkey = ' || CAST(o_orderkey AS VARCHAR)
           WHEN 1 THEN 'select  o_totalprice,o_orderdate   FROM Orders WHERE o_custkey=' || CAST(o_custkey AS VARCHAR)
                      || ' AND o_orderpriority = ''' || o_orderpriority || ''''
           ELSE 'INSERT INTO target SELECT ' || CAST(o_orderkey AS VARCHAR) || ', ''' || o_orderstatus
                || ''' FROM src WHERE id IN (' || CAST(o_orderkey AS VARCHAR) || ', ' || CAST(o_custkey AS VARCHAR) || ')'
         END AS query_text
  FROM orders
),
fp AS (
  SELECT o_orderkey, request_user, status,
         trim(regexp_replace(regexp_replace(lower(query_text),
              '''[^'']*(?:''''[^'']*)*''|\b[0-9]+\b', '?', 'g'), '\s+', ' ', 'g')) AS fingerprint
  FROM texts
)
SELECT fingerprint,
  CAST(COUNT(*) AS BIGINT) AS n_queries,
  CAST(COUNT(DISTINCT request_user) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN status = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
  CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM fp
GROUP BY fingerprint
ORDER BY fingerprint
"""


# --- qe_runtime_percentiles ----------------------------------------------------------
# The assessment SLA report: exact per-queue p50/p95 of query runtimes, computed
# with the two-phase quantile selector (plans/median.py) — no whole-group
# percentile buffers, the only sort touches candidate buckets. Durations are
# closed-form in the synthetic log (o_orderkey % 3600 seconds), so the oracle
# derives them relationally and selects the same discrete k-th values.


def qe_runtime_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.median import distributed_quantiles

    log = synthetic_query_log(spark, sf_dir)
    corr = correlate_submit_complete(deduplicate_events(log))
    # Materialize the (queue, duration) relation once: the quantile selector
    # references its input three times (bounds, histogram, candidates), and
    # without the cut each reference re-evaluates the whole dedup+pair chain
    # (measured 13 shuffles / 19 windows; with the cut, the selector's own 4/1).
    done = (
        corr.filter(F.col("EndTime").isNotNull())
        .select("Queue", F.col("DurationMillis").cast("double").alias("dur_ms"))
        .localCheckpoint()
    )
    out = distributed_quantiles(done, "dur_ms", ["Queue"], {"p50_ms": 0.5, "p95_ms": 0.95})
    return out.select(
        F.col("Queue").alias("queue"),
        "n_rows",
        F.col("p50_ms").cast("long").alias("p50_ms"),
        F.col("p95_ms").cast("long").alias("p95_ms"),
    ).orderBy("queue")


QE_RUNTIME_PERCENTILES_ORACLE = """
WITH done AS (
  SELECT 'q' || CAST(o_orderkey % 3 AS VARCHAR) AS queue,
         CAST((o_orderkey % 3600) * 1000 AS DOUBLE) AS dur_ms
  FROM orders WHERE o_orderkey % 17 <> 0
),
ranked AS (
  SELECT queue, dur_ms,
         ROW_NUMBER() OVER (PARTITION BY queue ORDER BY dur_ms) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY queue) AS BIGINT) AS n
  FROM done
)
SELECT queue,
  CAST(MAX(n) AS BIGINT) AS n_rows,
  CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) THEN dur_ms END) AS BIGINT) AS p50_ms,
  CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT)) THEN dur_ms END) AS BIGINT) AS p95_ms
FROM ranked
GROUP BY queue
ORDER BY queue
"""


# --- qe_mode_migration_trend ---------------------------------------------------------
# The assessment's headline narrative: execution-mode mix over time (is the MR->TEZ
# migration progressing?). Month buckets from the synthetic log's StartTime, mode
# from the deterministic %3 rule; share-of-month via a window over the month's
# (tiny) mode rows. Integer counts + one rounded double division — oracle-exact.


def qe_mode_migration_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = synthetic_query_log(spark, sf_dir).filter(
        F.col("EventType") == "QUERY_SUBMITTED"
    )
    monthly = log.groupBy(
        F.to_date(F.date_trunc("month", "StartTime")).alias("month"),
        F.col("ExecutionMode").alias("mode"),
    ).agg(count_big("n_queries"))
    w = Window.partitionBy("month")
    return (
        monthly.withColumn(
            "month_share",
            F.round(
                F.col("n_queries").cast("double")
                / F.sum("n_queries").over(w).cast("double"),
                6,
            ),
        )
        .orderBy("month", "mode")
    )


QE_MODE_MIGRATION_TREND_ORACLE = """
WITH subs AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CASE WHEN o_orderkey % 3 = 0 THEN 'TEZ' ELSE 'MR' END AS mode
  FROM orders
),
monthly AS (
  SELECT month, mode, CAST(COUNT(*) AS BIGINT) AS n_queries
  FROM subs GROUP BY month, mode
)
SELECT month, mode, n_queries,
       ROUND(CAST(n_queries AS DOUBLE) / CAST(SUM(n_queries) OVER (PARTITION BY month) AS DOUBLE), 6) AS month_share
FROM monthly
ORDER BY month, mode
"""


# --- qe_assessment_summary -----------------------------------------------------------
# The composed migration-assessment REPORT — the reference's end-user deliverable
# (its whole logging pipeline exists to feed exactly this kind of summary;
# MigrationAssessmentLoggingHook collects the raw material, the assessment tool
# renders the report). Four sections over ONE correlated log, unioned into a
# single typed relation so one oracle hash certifies the entire report:
#   1_engine_mix     — submissions per ExecutionMode with share-of-total
#   2_queue_health   — failures per queue with failure rate over completions
#   3_top_users      — top-3 users by query volume (deterministic tie-break)
#   4_orphans        — submissions that never completed, with share-of-total
# The correlated relation is localCheckpointed before fanning out to the four
# section branches (the capstone lineage lesson: each branch would otherwise
# re-expand dedup + correlate).


def qe_assessment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = synthetic_query_log(spark, sf_dir)
    corr = (
        correlate_submit_complete(deduplicate_events(log))
        .select(
            "QueryId",
            "RequestUser",
            "ExecutionMode",
            "Queue",
            "EndTime",
            "Status",
            F.col("DurationMillis").cast("long").alias("dur_ms"),
        )
        .localCheckpoint(eager=False)
    )
    w_all = Window.partitionBy()

    mode_mix = (
        corr.groupBy(F.col("ExecutionMode").alias("item"))
        .agg(count_big("_n"))
        .select(
            F.lit("1_engine_mix").alias("section"),
            "item",
            F.col("_n").alias("metric_long"),
            F.round(
                F.col("_n").cast("double") / F.sum("_n").over(w_all).cast("double"), 6
            ).alias("metric_double"),
        )
    )
    queue_health = (
        corr.groupBy(F.col("Queue").alias("item"))
        .agg(
            F.count(F.col("EndTime")).cast("long").alias("_completed"),
            F.sum(F.when(F.col("Status") == "FAIL", 1).otherwise(0))
            .cast("long")
            .alias("_failed"),
        )
        .select(
            F.lit("2_queue_health").alias("section"),
            "item",
            F.col("_failed").alias("metric_long"),
            F.when(
                F.col("_completed") > 0,
                F.round(
                    F.col("_failed").cast("double") / F.col("_completed").cast("double"),
                    6,
                ),
            ).alias("metric_double"),
        )
    )
    top_users = (
        corr.groupBy(F.col("RequestUser").alias("item"))
        .agg(
            count_big("_n"),
            F.count(F.col("EndTime")).cast("long").alias("_completed"),
            F.sum("dur_ms").cast("long").alias("_dur"),
        )
        .orderBy(F.desc("_n"), F.asc("item"))
        .limit(3)
        .select(
            F.lit("3_top_users").alias("section"),
            "item",
            F.col("_n").alias("metric_long"),
            F.when(
                F.col("_completed") > 0,
                F.round(
                    F.col("_dur").cast("double") / F.col("_completed").cast("double"), 6
                ),
            ).alias("metric_double"),
        )
    )
    orphans = corr.agg(
        F.sum(F.when(F.col("EndTime").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("_orphans"),
        F.count(F.lit(1)).cast("long").alias("_total"),
    ).select(
        F.lit("4_orphans").alias("section"),
        F.lit("never_completed").alias("item"),
        F.col("_orphans").alias("metric_long"),
        F.round(
            F.col("_orphans").cast("double") / F.col("_total").cast("double"), 6
        ).alias("metric_double"),
    )
    return (
        mode_mix.unionByName(queue_health)
        .unionByName(top_users)
        .unionByName(orphans)
        .orderBy("section", "item")
    )


QE_ASSESSMENT_SUMMARY_ORACLE = """
WITH subs AS (
  SELECT
    CAST(o_orderkey AS VARCHAR) AS QueryId,
    'user_' || CAST(o_custkey % 10 AS VARCHAR) AS RequestUser,
    CASE WHEN o_orderkey % 3 = 0 THEN 'TEZ' ELSE 'MR' END AS ExecutionMode,
    'q' || CAST(o_orderkey % 3 AS VARCHAR) AS Queue,
    o_orderdate AS StartTime
  FROM orders
), comps AS (
  SELECT
    CAST(o_orderkey AS VARCHAR) AS QueryId,
    o_orderdate + (o_orderkey % 3600) * INTERVAL 1 SECOND AS EndTime,
    CASE WHEN o_orderkey % 10 = 0 THEN 'FAIL' ELSE 'SUCCESS' END AS Status
  FROM orders
  WHERE o_orderkey % 17 <> 0
), corr AS (
  SELECT s.QueryId, s.RequestUser, s.ExecutionMode, s.Queue, c.EndTime, c.Status,
         epoch_ms(c.EndTime) - epoch_ms(s.StartTime) AS dur_ms
  FROM subs s LEFT JOIN comps c ON s.QueryId = c.QueryId
), mode_mix AS (
  SELECT '1_engine_mix' AS section, ExecutionMode AS item,
         CAST(COUNT(*) AS BIGINT) AS metric_long,
         ROUND(CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS metric_double
  FROM corr GROUP BY ExecutionMode
), queue_health AS (
  SELECT '2_queue_health' AS section, Queue AS item,
         CAST(SUM(CASE WHEN Status = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS metric_long,
         CASE WHEN COUNT(EndTime) > 0 THEN
           ROUND(CAST(SUM(CASE WHEN Status = 'FAIL' THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(EndTime) AS DOUBLE), 6)
         END AS metric_double
  FROM corr GROUP BY Queue
), top_users AS (
  SELECT '3_top_users' AS section, item, metric_long,
         CASE WHEN completed > 0 THEN
           ROUND(CAST(dur AS DOUBLE) / CAST(completed AS DOUBLE), 6)
         END AS metric_double
  FROM (
    SELECT RequestUser AS item, CAST(COUNT(*) AS BIGINT) AS metric_long,
           CAST(COUNT(EndTime) AS BIGINT) AS completed,
           CAST(SUM(dur_ms) AS BIGINT) AS dur
    FROM corr GROUP BY RequestUser
    ORDER BY COUNT(*) DESC, RequestUser ASC LIMIT 3
  )
), orphans AS (
  SELECT '4_orphans' AS section, 'never_completed' AS item,
         CAST(SUM(CASE WHEN EndTime IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS metric_long,
         ROUND(CAST(SUM(CASE WHEN EndTime IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS metric_double
  FROM corr
)
SELECT * FROM mode_mix
UNION ALL SELECT * FROM queue_health
UNION ALL SELECT * FROM top_users
UNION ALL SELECT * FROM orphans
ORDER BY section, item
"""
