"""Catalyst plan-shape regression tests: the perf-critical plan properties SCALE.md
documents must stay true — pushdown reaching the scan, dims broadcasting, partial
aggregation before the exchange, rn=1 compiling to WindowGroupLimit."""

from __future__ import annotations

from hadoop_migration_assessment_tools_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_partial_agg(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 used columns reach the scan
    assert "l_comment" not in plan
    # map-side partial aggregation exists (the shuffle carries groups, not rows)
    assert "partial_sum" in plan


def test_q5_dims_broadcast(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4  # cust, supp, nation, region
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_dedup_compiles_to_window_group_limit(spark):
    plan = _plan(spark, "qe_submit_complete_join")
    assert "WindowGroupLimit" in plan  # rn=1 dedup pruned before the full sort


def test_events_scan_prunes_columns(spark):
    plan = _plan(spark, "events_json_extract")
    # props/ts/event_type needed; user_id must be pruned away from this scan
    assert "ReadSchema" in plan
    read_schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "user_id" not in read_schema_line


def test_table_frequency_rank_is_distributed(spark):
    """AGG6 (VERDICT r1 'What's wrong' #1): hot_rank is never a no-partitionBy Window
    over the counts. It is a distributed sequence number attached to one global
    sort, whose input arrives through a range-partitioning exchange, so every
    stage of the rank runs across many tasks."""
    df = QUERIES["qe_table_read_frequency"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    nodes = [l.strip(" +-:") for l in plan.splitlines()]
    assert not [n for n in nodes if n.startswith(("Window ", "WindowGroupLimit "))], plan
    attach = next(i for i, n in enumerate(nodes) if n.startswith("AttachDistributedSequence"))
    below = [n for n in nodes[attach + 1 :] if n.startswith(("Sort ", "Exchange "))]
    assert below[0].startswith("Sort ") and below[1].startswith("Exchange rangepartitioning("), plan


def _rank_against_global_window(spark, df, order):
    """distributed_row_number's ranks and a single-partition row_number's, with AQE
    partition coalescing off so that the sorted input keeps several range
    partitions and their boundaries are exercised."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hadoop_migration_assessment_tools_spark.plans.ranking import distributed_row_number

    key = df.columns[0]
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    orig = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        assert df.orderBy(*order).rdd.getNumPartitions() > 1
        got = {r[key]: r["rank"] for r in distributed_row_number(df, order, "rank").collect()}
    finally:
        spark.conf.set(conf, orig)
    want = {
        r[key]: r["rank"]
        for r in df.withColumn("rank", F.row_number().over(Window.orderBy(*order))).collect()
    }
    return got, want


def test_distributed_row_number_matches_global_window(spark):
    """The distributed rank equals the single-partition global window bit-for-bit."""
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).select(
        (F.col("id") % 997).alias("k"), ((F.col("id") * 37) % 101).alias("v")
    ).groupBy("k").agg(F.sum("v").alias("total"))
    got, want = _rank_against_global_window(spark, df, [F.desc("total"), F.asc("k")])
    assert got == want


def test_distributed_row_number_matches_global_window_on_real_data(spark):
    """Regression for the round-4 bug: a rank built from two branches that each
    sampled the range exchange disagreed with the global window on the REAL events
    table (8777 wrong ranks at sf0.01) while synthetic data passed. Pin equality on
    the data that exposed it."""
    from pyspark.sql import functions as F

    from hadoop_migration_assessment_tools_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select("event_id", "ts")
    got, want = _rank_against_global_window(spark, ev, [F.asc("ts"), F.asc("event_id")])
    assert got == want


def test_date_partition_pruning(spark, tmp_path):
    """SRC3 payoff: a date-range filter over the sink's layout must prune partitions
    at plan time (PartitionFilters on EventDate), not scan-and-filter."""
    import datetime as dt

    from hadoop_migration_assessment_tools_spark.schema import QUERY_EVENTS_SCHEMA
    from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink

    base = str(tmp_path / "events")
    rows = []
    for day in range(1, 4):
        row = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
        for c in ("TablesRead", "TablesWritten", "PartitionsRead", "PartitionsWritten",
                  "DatabasesRead", "DatabasesWritten"):
            row[c] = []
        row.update(QueryId=f"q{day}", EventType="QUERY_SUBMITTED",
                   StartTime=dt.datetime(2024, 1, day, 12, 0))
        rows.append(row)
    DatePartitionedSink(base).write_batch(
        spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA)
    )

    from pyspark.sql import functions as F

    df = spark.read.parquet(base).filter(F.col("EventDate") == "2024-01-02")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan
    assert "EventDate" in plan.split("PartitionFilters", 1)[1][:200]
    assert df.count() == 1  # only the matching day's partition read


def test_range_join_avoids_nested_loop(spark):
    """JN7: the bucket+refine range join must plan as an equi-join — never a
    BroadcastNestedLoopJoin or cartesian product (the naive non-equi plan)."""
    plan = _plan(spark, "lineitem_price_band_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # an actual (hash/merge) equi-join on the bucket id
