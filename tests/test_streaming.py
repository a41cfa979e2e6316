"""STR1/STR7/STR8/DDP1 streaming tests: file sources into memory sinks with
availableNow triggers (deterministic micro-batching), batch-parity cross-checks
(SURVEY §7 Stage 4), stream-stream submit/complete pairing."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from hadoop_migration_assessment_tools_spark.schema import QUERY_EVENTS_SCHEMA
from hadoop_migration_assessment_tools_spark.sources.readers import load_table
from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink
from hadoop_migration_assessment_tools_spark.streaming.pairing import (
    pair_submit_complete_stream,
)
from hadoop_migration_assessment_tools_spark.streaming.source import (
    read_event_stream,
    read_events_table_stream,
)
from hadoop_migration_assessment_tools_spark.streaming.windows import (
    session_window_stats,
    tumbling_window_counts,
)

SF = "/root/testdata/sf0.001"


def _write_flat_file(spark, rows, src_dir, name: str) -> None:
    """Materialize rows as ONE flat parquet file in src_dir (the file stream source
    lists files, it does not recurse into nested .parquet directories)."""
    import glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    os.makedirs(src_dir, exist_ok=True)
    shutil.move(part, os.path.join(src_dir, name))
    shutil.rmtree(tmp, ignore_errors=True)


def _run_available_now(stream_df, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _qe_row(**kw) -> dict:
    row = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
    for c in (
        "TablesRead",
        "TablesWritten",
        "PartitionsRead",
        "PartitionsWritten",
        "DatabasesRead",
        "DatabasesWritten",
    ):
        row[c] = []
    row.update(kw)
    return row


def test_tumbling_stream_matches_batch(spark, tmp_path):
    """STR7 batch parity: the same operator over a file stream equals the batch run."""
    src = str(tmp_path / "events_src")
    events = load_table(spark, SF, "events")
    events.write.parquet(src)

    stream = read_events_table_stream(spark, src)
    _run_available_now(tumbling_window_counts(stream), "tumbling_counts", "complete")
    got = {
        (r["window_start"], r["event_type"]): (r["event_count"], r["total_value"])
        for r in spark.table("tumbling_counts").collect()
    }
    expected = {
        (r["hour"], r["event_type"]): (r["event_count"], r["total_value"])
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("event_count"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == expected


def test_session_window_stream_runs(spark, tmp_path):
    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").write.parquet(src)
    stream = read_events_table_stream(spark, src)
    _run_available_now(session_window_stats(stream, gap="30 minutes"), "sessions", "complete")
    rows = spark.table("sessions").collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert r["session_end"] > r["session_start"]
        assert r["events_in_session"] >= 1


def test_stream_stream_pairing_join(spark, tmp_path):
    """STR8 declarative form: pairs within the join window; orphan emits with NULLs
    once the watermark passes."""
    src = str(tmp_path / "qe_src")
    t0 = _ts("2024-01-01 00:00:00")
    batch1 = [
        _qe_row(QueryId="q1", EventType="QUERY_SUBMITTED", StartTime=t0),
        _qe_row(
            QueryId="q1",
            EventType="QUERY_COMPLETED",
            EndTime=t0 + dt.timedelta(minutes=30),
            Status="SUCCESS",
        ),
        _qe_row(
            QueryId="q2",
            EventType="QUERY_SUBMITTED",
            StartTime=t0 + dt.timedelta(minutes=5),
        ),  # never completes
    ]
    # far-future traffic in a SECOND batch pushes the watermark beyond q2's join
    # window. Both event types must flow: the global watermark is the MIN across the
    # submit-side and completion-side watermarks (multipleWatermarkPolicy=min), so a
    # quiet completion stream would hold eviction back forever.
    batch2 = [
        _qe_row(
            QueryId="q99",
            EventType="QUERY_SUBMITTED",
            StartTime=t0 + dt.timedelta(hours=12),
        ),
        _qe_row(
            QueryId="q99",
            EventType="QUERY_COMPLETED",
            EndTime=t0 + dt.timedelta(hours=12, minutes=1),
            Status="SUCCESS",
        ),
    ]
    # the watermark computed from batch2 only takes effect in the NEXT batch, so a
    # third batch is what actually evicts q2's state and emits the orphan row
    batch3 = [
        _qe_row(
            QueryId="q98",
            EventType="QUERY_SUBMITTED",
            StartTime=t0 + dt.timedelta(hours=13),
        ),
        _qe_row(
            QueryId="q98",
            EventType="QUERY_COMPLETED",
            EndTime=t0 + dt.timedelta(hours=13, minutes=1),
            Status="SUCCESS",
        ),
    ]
    _write_flat_file(spark, batch1, src, "b1.parquet")
    time.sleep(1.1)  # file-source ordering is by modification time
    _write_flat_file(spark, batch2, src, "b2.parquet")
    time.sleep(1.1)
    _write_flat_file(spark, batch3, src, "b3.parquet")

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    paired = pair_submit_complete_stream(stream, watermark="1 hour")
    _run_available_now(paired, "paired_join")
    got = {r["QueryId"]: r for r in spark.table("paired_join").collect()}
    assert got["q1"]["Status"] == "SUCCESS"
    assert got["q1"]["DurationMillis"] == 30 * 60 * 1000
    assert "q2" in got, f"orphan not emitted: {got}"
    assert got["q2"]["EndTime"] is None and got["q2"]["Status"] is None


_PAIR_COLS = [
    "QueryId", "QueryText", "RequestUser", "ExecutionMode", "Queue",
    "StartTime", "EndTime", "Status", "ErrorMessage", "DurationMillis",
]


def _pairing_log(spark, src) -> None:
    """Four micro-batch files of a log that exercises every pairing rule: duplicate
    deliveries (same timestamp), an orphan submission, a completion-only id, a
    NULL-QueryId submit and complete, and a completion that lands in a later
    micro-batch than its submission. The last two files are complete far-future
    pairs: the watermark they carry is what evicts and emits the outer rows."""
    t0 = _ts("2024-01-01 00:00:00")

    def sub(qid, minutes, **kw):
        return _qe_row(QueryId=qid, EventType="QUERY_SUBMITTED",
                       StartTime=t0 + dt.timedelta(minutes=minutes),
                       QueryText=f"select {qid}", RequestUser="u1",
                       ExecutionMode="TEZ", Queue="default", **kw)

    def comp(qid, minutes, status="SUCCESS"):
        return _qe_row(QueryId=qid, EventType="QUERY_COMPLETED",
                       EndTime=t0 + dt.timedelta(minutes=minutes), Status=status)

    files = [
        [sub("q1", 0), sub("q1", 0), comp("q1", 10), comp("q1", 10),
         sub("q2", 5),                       # never completes
         comp("q3", 20, "FAIL"),             # completes, never submitted
         sub(None, 1), comp(None, 2),        # no pairing key
         sub("q4", 30)],                     # completes in the next file
        [comp("q4", 50), sub("q5", 40), comp("q5", 45)],
        [sub("q98", 12 * 60), comp("q98", 12 * 60 + 1)],
        [sub("q99", 13 * 60), comp("q99", 13 * 60 + 1)],
    ]
    for i, rows in enumerate(files):
        if i:
            time.sleep(1.1)  # file-source ordering is by modification time
        _write_flat_file(spark, rows, src, f"b{i}.parquet")


@pytest.mark.parametrize("how", ["left", "inner", "right", "full"])
def test_stream_pairing_matches_batch(spark, tmp_path, how):
    """Stream and batch pair one log by one contract: for every ``how`` the
    watermarked stream-stream join with in-join dedup gives row for row what
    correlate_submit_complete(deduplicate_events(log), how) gives. NULL-QueryId
    events pair under neither; completion-only ids keep their QueryId."""
    from hadoop_migration_assessment_tools_spark.operators.correlate import (
        correlate_submit_complete,
        deduplicate_events,
    )
    from hadoop_migration_assessment_tools_spark.sources.readers import read_event_log

    src = str(tmp_path / "src")
    _pairing_log(spark, src)
    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    paired = pair_submit_complete_stream(stream, watermark="1 hour", how=how, dedup=True)
    name = f"pair_parity_{how}"
    _run_available_now(paired, name)
    streamed = spark.table(name).select(*_PAIR_COLS).collect()
    spark.catalog.dropTempView(name)

    batch = correlate_submit_complete(
        deduplicate_events(read_event_log(spark, src)), how
    ).select(*_PAIR_COLS).collect()
    key = lambda r: r["QueryId"]  # noqa: E731
    assert sorted(streamed, key=key) == sorted(batch, key=key)
    expected = {"left": {"q1", "q2", "q4", "q5", "q98", "q99"},
                "inner": {"q1", "q4", "q5", "q98", "q99"},
                "right": {"q1", "q3", "q4", "q5", "q98", "q99"},
                "full": {"q1", "q2", "q3", "q4", "q5", "q98", "q99"}}[how]
    assert [r["QueryId"] for r in sorted(streamed, key=key)] == sorted(expected)


def test_stream_pairing_rejects_unknown_how(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_flat_file(spark, [_qe_row(QueryId="q1", EventType="QUERY_SUBMITTED")], src, "a.parquet")
    with pytest.raises(ValueError, match="how must be one of"):
        pair_submit_complete_stream(read_event_stream(spark, src), how="leftOuter")


def test_streaming_sink_roundtrip(spark, tmp_path):
    """SRC2-4 streaming form: micro-batch trigger writes the date-partitioned layout
    with exactly-once commits."""
    src = str(tmp_path / "qe_src")
    out = str(tmp_path / "qe_out")
    ckpt = str(tmp_path / "ckpt")
    t0 = _ts("2024-01-01 23:59:00")
    rows = [
        _qe_row(QueryId="a", EventType="QUERY_SUBMITTED", StartTime=t0),
        _qe_row(
            QueryId="b",
            EventType="QUERY_SUBMITTED",
            StartTime=t0 + dt.timedelta(minutes=2),  # next UTC day
        ),
    ]
    spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA).write.parquet(src)
    sink = DatePartitionedSink(out)
    q = (
        sink.write_stream(
            read_event_stream(spark, src), checkpoint_dir=ckpt, trigger_seconds=1
        )
    )
    # wait for the micro-batch's commit: the day dirs appear when its tasks write
    # their files, before the file sink's metadata log records them
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert {r["EventDate"].isoformat() for r in back.collect()} == {
        "2024-01-01",
        "2024-01-02",
    }


def test_idempotent_foreachbatch_sink(spark, tmp_path):
    """STR3: a replayed micro-batch (same batch_id) overwrites its own output —
    duplicates impossible by construction."""
    from hadoop_migration_assessment_tools_spark.streaming.foreach import IdempotentBatchSink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = _ts("2024-01-01 00:00:00")
    rows = [_qe_row(QueryId=f"q{i}", EventType="QUERY_SUBMITTED", StartTime=t0) for i in range(5)]
    spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA).write.parquet(src)

    sink = IdempotentBatchSink(out)
    q = sink.attach(read_event_stream(spark, src), ckpt, available_now=True)
    q.awaitTermination(60)
    assert spark.read.parquet(out).count() == 5

    # simulate a retry-after-partial-write replay of batch 0: same batch_id, same data
    sink(spark.createDataFrame(rows, schema=QUERY_EVENTS_SCHEMA), 0)
    assert spark.read.parquet(out).count() == 5  # still exactly once


def test_watermark_drops_late_rows_after_window_finalized(spark, tmp_path):
    """STR7 late-data semantics: once the watermark has finalized (emitted) a window
    in append mode, a late row for that window is dropped — the window is never
    re-emitted and the row never counted. (Note: Spark may still ACCEPT a late row
    for a not-yet-finalized window even if it is below the watermark — the watermark
    is the eviction bound, not a hard admission filter; the reliable guarantee is
    post-finalization drop, which is what this pins.)"""
    src = str(tmp_path / "late_src")
    t0 = _ts("2024-01-01 00:00:00")
    # batch1: on-time rows in window 00:00
    batch1 = [
        _qe_row(QueryId="a1", EventType="QUERY_SUBMITTED", StartTime=t0 + dt.timedelta(minutes=5)),
        _qe_row(QueryId="a2", EventType="QUERY_SUBMITTED", StartTime=t0 + dt.timedelta(minutes=10)),
    ]
    # batch2: far-future row advances the watermark past window 00:00's end
    batch2 = [
        _qe_row(QueryId="b", EventType="QUERY_SUBMITTED", StartTime=t0 + dt.timedelta(hours=6)),
    ]
    # batch3: window 00:00 finalizes+emits here (watermark from batch2 = 05:00)
    batch3 = [
        _qe_row(QueryId="c", EventType="QUERY_SUBMITTED", StartTime=t0 + dt.timedelta(hours=7)),
    ]
    # batch4: the late row arrives AFTER its window already emitted -> dropped
    batch4 = [
        _qe_row(QueryId="late", EventType="QUERY_SUBMITTED", StartTime=t0 + dt.timedelta(minutes=20)),
        _qe_row(QueryId="d", EventType="QUERY_SUBMITTED", StartTime=t0 + dt.timedelta(hours=8)),
    ]
    _write_flat_file(spark, batch1, src, "b1.parquet")
    for i, batch in enumerate([batch2, batch3, batch4], start=2):
        time.sleep(1.1)
        _write_flat_file(spark, batch, src, f"b{i}.parquet")

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("StartTime", "1 hour")
        .groupBy(F.window("StartTime", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    _run_available_now(agg, "late_agg", "append")
    t0_rows = [r["n"] for r in spark.table("late_agg").collect() if r["ws"] == t0]
    # exactly one emission for the 00:00 window, with only the on-time rows
    assert t0_rows == [2], f"late row leaked into finalized window: {t0_rows}"


def test_checkpoint_recovery_resumes_without_duplicates(spark, tmp_path):
    """STR3/STR5: restarting a query on the same checkpoint resumes from committed
    offsets — already-processed files are not reprocessed, new files are."""
    from hadoop_migration_assessment_tools_spark.streaming.foreach import IdempotentBatchSink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = _ts("2024-01-01 00:00:00")

    _write_flat_file(
        spark,
        [_qe_row(QueryId=f"a{i}", EventType="QUERY_SUBMITTED", StartTime=t0) for i in range(3)],
        src,
        "f1.parquet",
    )
    sink = IdempotentBatchSink(out)
    q1 = sink.attach(read_event_stream(spark, src), ckpt, available_now=True)
    q1.awaitTermination(60)
    assert spark.read.parquet(out).count() == 3

    # new data arrives while the query is down; restart on the SAME checkpoint
    _write_flat_file(
        spark,
        [_qe_row(QueryId=f"b{i}", EventType="QUERY_SUBMITTED", StartTime=t0) for i in range(2)],
        src,
        "f2.parquet",
    )
    q2 = sink.attach(read_event_stream(spark, src), ckpt, available_now=True)
    q2.awaitTermination(60)

    back = spark.read.parquet(out)
    assert back.count() == 5  # 3 old (not reprocessed/duplicated) + 2 new
    ids = sorted(r["QueryId"] for r in back.collect())
    assert ids == ["a0", "a1", "a2", "b0", "b1"]


def test_live_generator_through_construct_events(spark):
    """SRC1 live form: rate source -> hook rows -> the real construct_events pipeline,
    proving the event operators are source-agnostic (same code, batch or stream)."""
    from hadoop_migration_assessment_tools_spark.streaming.generator import live_event_stream

    stream = live_event_stream(spark, rows_per_second=100)
    q = (
        stream.writeStream.format("memory")
        .queryName("live_events")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("live_events").count() >= 10:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = spark.table("live_events").collect()
    assert len(rows) >= 10
    types = {r["EventType"] for r in rows}
    assert "QUERY_SUBMITTED" in types
    sub = [r for r in rows if r["EventType"] == "QUERY_SUBMITTED"][0]
    assert sub["QueryId"].startswith("live_query_")
    assert sub["ExecutionMode"] in ("TEZ", "LLAP")
    assert sub["TablesRead"] and sub["TablesRead"][0].startswith("db@t_")
    assert sub["HookVersion"] == "1.0"


def test_stream_avro_tree_matches_batch_read(spark, tmp_path):
    """SRC1/SRC6 streaming form over the reference's own persistence format: tailing
    a dwhassessment avro tree as a stream yields exactly the batch reader's rows,
    and new files written after the first pass are picked up by the next trigger."""
    import datetime as dtm

    from hadoop_migration_assessment_tools_spark.schema import QUERY_EVENTS_SCHEMA
    from hadoop_migration_assessment_tools_spark.sources.readers import read_event_log
    from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink
    from hadoop_migration_assessment_tools_spark.streaming.source import read_event_stream

    base = str(tmp_path / "avro_tree")

    def event(qid, day):
        row = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
        row.update(QueryId=qid, EventType="QUERY_SUBMITTED",
                   StartTime=dtm.datetime(2024, 1, day, 12, 0), TablesRead=["db@t"])
        return row

    sink = DatePartitionedSink(base, fmt="avro")
    sink.write_batch(spark.createDataFrame([event("q1", 1), event("q2", 2)],
                                           schema=QUERY_EVENTS_SCHEMA))

    stream = read_event_stream(spark, base, fmt="avro", max_files_per_trigger=10)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("avro_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second").start()
    )
    try:
        q.processAllAvailable()
        got = {r["QueryId"]: r for r in spark.table("avro_tail").collect()}
        assert set(got) == {"q1", "q2"}
        assert got["q1"]["EventDate"].isoformat() == "2024-01-01"
        assert got["q1"]["TablesRead"] == ["db@t"]

        # a new rollover file lands; the running tail picks it up incrementally
        sink.write_batch(
            spark.createDataFrame([event("q3", 3)], schema=QUERY_EVENTS_SCHEMA)
        )
        q.processAllAvailable()
        streamed = spark.table("avro_tail").collect()
    finally:
        q.stop()

    # row for row over all 33 record columns and EventDate
    batch = read_event_log(spark, base, fmt="avro").collect()
    assert len(batch) == 3 and len(batch[0]) == 34
    key = lambda r: r["QueryId"]  # noqa: E731
    assert sorted(streamed, key=key) == sorted(batch, key=key)


# --- STR2 literal bounded-drop mode (shedding.py) ------------------------------------


def test_shed_overflow_keeps_first_by_event_time(spark):
    import datetime as dt

    from hadoop_migration_assessment_tools_spark.streaming.shedding import shed_overflow

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i % 90), f"w{i % 2}")
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "event_id long, EventTime timestamp, writer string")
    kept, dropped = shed_overflow(df, capacity=64)
    assert kept.count() == 64 and dropped == 36
    # the kept set is the earliest 64 event times (arrival order admission)
    max_kept = max(r["EventTime"] for r in kept.collect())
    dropped_rows = df.join(kept, "event_id", "left_anti").collect()
    assert all(r["EventTime"] >= max_kept for r in dropped_rows)


def test_shed_overflow_per_group_capacity_and_determinism(spark):
    import datetime as dt

    from hadoop_migration_assessment_tools_spark.streaming.shedding import shed_overflow

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, 0), f"w{i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "event_id long, EventTime timestamp, writer string")
    kept1, d1 = shed_overflow(df, capacity=5, group_cols=("writer",))
    kept2, d2 = shed_overflow(df, capacity=5, group_cols=("writer",))
    assert d1 == d2 == 15
    per_writer = kept1.groupBy("writer").count().collect()
    assert all(r["count"] == 5 for r in per_writer)
    # all EventTimes tie -> the hash tie-break must shed identically on replay
    assert sorted(r["event_id"] for r in kept1.collect()) == sorted(
        r["event_id"] for r in kept2.collect()
    )


def test_shed_overflow_under_capacity_is_noop(spark):
    import datetime as dt

    import pytest

    from hadoop_migration_assessment_tools_spark.streaming.shedding import shed_overflow

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "event_id long, EventTime timestamp"
    )
    kept, dropped = shed_overflow(df, capacity=64)
    assert kept.count() == 1 and dropped == 0
    with pytest.raises(ValueError):
        shed_overflow(df, capacity=-1)


def test_chunk_documents_is_streaming_legal(spark, tmp_path):
    """chunk_documents is a pure narrow map + explode (no window/agg/sort), so the
    same code must run unchanged on a streaming DataFrame — stream out == batch out."""
    import uuid

    from hadoop_migration_assessment_tools_spark.ext.text import chunk_documents

    src = str(tmp_path / "docs_src")
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(5 + (i * 13) % 40))) for i in range(50)],
        "doc_id long, text string",
    )
    docs.coalesce(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    table = f"chunks_stream_{uuid.uuid4().hex[:8]}"
    (
        chunk_documents(stream, max_tokens=16, overlap=4)
        .writeStream.format("memory")
        .queryName(table)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = sorted(map(tuple, spark.table(table).collect()))
    batch = sorted(map(tuple, chunk_documents(docs, max_tokens=16, overlap=4).collect()))
    assert streamed == batch and len(batch) > 50


def _doc_sizes(spark, n=80):
    return spark.createDataFrame(
        [(i, 1 + (i * 37) % 120) for i in range(n)], "doc_id long, n_tok long"
    )


def test_pack_stream_single_batch_equals_batch_pack(spark, tmp_path):
    """STR-parity for packing (VERDICT r3 #4): one availableNow micro-batch must
    hash-equal the batch packer exactly (same partitioning, same FFD, offset 0)."""
    from hadoop_migration_assessment_tools_spark.ext.packing import pack_sequences
    from hadoop_migration_assessment_tools_spark.streaming.packing import (
        pack_sequences_stream,
    )

    docs = _doc_sizes(spark)
    src = str(tmp_path / "src")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "packed")

    stream = spark.readStream.schema("doc_id long, n_tok long").parquet(src)
    pack_sequences_stream(
        stream, "n_tok", out, str(tmp_path / "ckpt"),
        budget=256, num_partitions=8,
    ).awaitTermination()

    batch_df = pack_sequences(docs, "n_tok", budget=256, num_partitions=8)
    cols = batch_df.columns  # readback adds a batch_id partition column; ignore it
    streamed = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    batch = sorted(map(tuple, batch_df.collect()))
    assert streamed == batch and len(batch) == 80


def test_pack_stream_multi_batch_invariants(spark, tmp_path):
    """With one file per trigger, every micro-batch packs independently: exactly-once
    doc coverage, token conservation, budget respected, bin ids unique across batches."""
    from hadoop_migration_assessment_tools_spark.streaming.packing import (
        pack_sequences_stream,
    )

    docs = _doc_sizes(spark)
    src = str(tmp_path / "src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "packed")

    stream = (
        spark.readStream.schema("doc_id long, n_tok long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pack_sequences_stream(
        stream, "n_tok", out, str(tmp_path / "ckpt"),
        budget=256, num_partitions=4,
    ).awaitTermination()

    packed = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in packed) == list(range(80))  # exactly once
    sizes = {r["doc_id"]: r["n_tokens"] for r in packed}
    want = {r["doc_id"]: r["n_tok"] for r in docs.collect()}
    assert sizes == want  # token mass conserved per doc
    fills: dict = {}
    for r in packed:
        if not r["overflow"]:
            fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
    assert fills and all(v <= 256 for v in fills.values())  # budget respected
    # overflow flags exactly the docs longer than the budget
    assert {r["doc_id"] for r in packed if r["overflow"]} == {
        d for d, n in want.items() if n > 256
    }


def _wait_for_batches(pattern: str, n: int, timeout_s: float = 90.0) -> int:
    """Poll until >= n committed batch dirs (_SUCCESS markers) match pattern."""
    import glob
    import time as _t

    deadline = _t.time() + timeout_s
    while _t.time() < deadline:
        done = len(glob.glob(pattern))
        if done >= n:
            return done
    return len(glob.glob(pattern))


def test_pack_stream_kill_restart_equals_uninterrupted(spark, tmp_path):
    """STR3/STR5 crash recovery (VERDICT r4 #5): start a CONTINUOUS packing query,
    kill it mid-stream after the first batches commit (stop() can land inside a
    later batch's write), restart from the SAME checkpoint, and assert the final
    output row-for-row equals an uninterrupted run. The batch-addressed overwrite
    sink makes a replayed batch rewrite exactly its own location — exactly-once
    across restart, not just within a session."""
    import os

    from hadoop_migration_assessment_tools_spark.streaming.packing import (
        pack_sequences_stream,
    )

    docs = _doc_sizes(spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    # six single-file sources -> six deterministic micro-batches
    for i in range(6):
        docs.filter((F.col("doc_id") % 6) == i).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )

    def make_stream():
        return (
            spark.readStream.schema("doc_id long, n_tok long")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )

    out, ckpt = str(tmp_path / "packed"), str(tmp_path / "ckpt")
    q = pack_sequences_stream(
        make_stream(), "n_tok", out, ckpt,
        budget=256, num_partitions=4, available_now=False,
    )
    assert _wait_for_batches(f"{out}/batch_id=*/_SUCCESS", 2) >= 2
    q.stop()  # the kill: may interrupt a batch mid-write
    q.awaitTermination(60)

    # restart on the SAME checkpoint; drain the rest
    pack_sequences_stream(
        make_stream(), "n_tok", out, ckpt, budget=256, num_partitions=4
    ).awaitTermination()

    # uninterrupted control run (fresh checkpoint/output, same sources)
    out2, ckpt2 = str(tmp_path / "packed2"), str(tmp_path / "ckpt2")
    pack_sequences_stream(
        make_stream(), "n_tok", out2, ckpt2, budget=256, num_partitions=4
    ).awaitTermination()

    cols = ["doc_id", "n_tokens", "bin_id", "overflow"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(map(tuple, spark.read.parquet(out2).select(*cols).collect()))
    assert got == want
    assert sorted(r[0] for r in got) == list(range(80))  # exactly once, nothing lost


def test_ingest_stream_kill_restart_equals_uninterrupted(spark, tmp_path):
    """Crash recovery for streaming admission: kill after the first batch commits,
    restart from the checkpoint, and the admitted/audit sets must equal an
    uninterrupted run — including the growing-reference-set decisions that depend
    on earlier batches' output being visible exactly once."""
    import os

    from hadoop_migration_assessment_tools_spark.streaming.ingest import ingest_stream

    corpus_text = " ".join(f"c{i}" for i in range(12))
    corpus = spark.createDataFrame([(1, corpus_text)], ["doc_id", "text"])
    fresh = [" ".join(f"w{j}_{i}" for i in range(12)) for j in range(4)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(100, fresh[0]), (101, corpus_text)],
        [(200, fresh[0]), (201, fresh[1])],  # 200 = cross-batch dup of 100
        [(300, fresh[2]), (301, fresh[1] + " tail")],  # 301 near-dups 201
        [(400, fresh[3])],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )

    def make_stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )

    def run(tag: str, interrupt: bool):
        adm, aud, ckpt = (str(tmp_path / f"{d}_{tag}") for d in ("adm", "aud", "ck"))
        if interrupt:
            q = ingest_stream(corpus, make_stream(), adm, aud, ckpt, available_now=False)
            assert _wait_for_batches(f"{adm}/batch_id=*/_SUCCESS", 1) >= 1
            q.stop()
            q.awaitTermination(60)
        ingest_stream(corpus, make_stream(), adm, aud, ckpt).awaitTermination()
        admitted = {r["doc_id"] for r in spark.read.parquet(adm).collect()}
        audit = {(r["doc_id"], r["reason"]) for r in spark.read.parquet(aud).collect()}
        return admitted, audit

    got = run("killed", interrupt=True)
    want = run("clean", interrupt=False)
    assert got == want
    admitted, audit = got
    all_ids = {i for rows in batches for i, _ in rows}
    assert admitted | {i for i, _ in audit} == all_ids
    assert not (admitted & {i for i, _ in audit})


# --- streaming ingestion (streaming/ingest.py) --------------------------------------


def test_ingest_stream_sequential_rejects_cross_batch_dup(spark, tmp_path):
    """The growing-reference-set property: a text admitted in one micro-batch must
    reject its re-arrival in a later batch — the semantics the one-shot batch API
    cannot express. Order-independent asserts (file-source batch order is an
    implementation detail): exactly one of the pair is admitted."""
    import os

    from pyspark.sql import functions as F

    from hadoop_migration_assessment_tools_spark.streaming.ingest import ingest_stream

    corpus_text = " ".join(f"c{i}" for i in range(12))
    fresh = " ".join(f"n{i}" for i in range(12))
    near = corpus_text + " tail"
    corpus = spark.createDataFrame([(1, corpus_text)], ["doc_id", "text"])

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    # two source files -> two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(
        [(100, fresh), (101, corpus_text), (102, near)], ["doc_id", "text"]
    ).coalesce(1).write.parquet(os.path.join(src, "f1"))
    spark.createDataFrame([(200, fresh)], ["doc_id", "text"]).coalesce(1).write.parquet(
        os.path.join(src, "f2")
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    adm_p, aud_p, ckpt = (
        os.path.join(str(tmp_path), d) for d in ("admitted", "audit", "ckpt")
    )
    ingest_stream(corpus, stream, adm_p, aud_p, ckpt).awaitTermination()

    admitted = {r["doc_id"] for r in spark.read.parquet(adm_p).collect()}
    audit = {r["doc_id"]: r["reason"] for r in spark.read.parquet(aud_p).collect()}
    # exactly one of the fresh-text pair admitted, the other rejected as exact dup
    assert len(admitted & {100, 200}) == 1
    other = ({100, 200} - admitted).pop()
    assert audit[other] == "exact_vs_corpus"
    assert audit[101] == "exact_vs_corpus"      # verbatim corpus copy
    assert audit[102] == "near_dup_vs_corpus"   # suffix edit
    # partition property holds across the whole stream
    assert admitted | set(audit) == {100, 101, 102, 200}
    assert not (admitted & set(audit))


def test_ingest_stream_single_batch_matches_batch_api(spark, tmp_path):
    import os

    from hadoop_migration_assessment_tools_spark.ext.ingest import incremental_ingest
    from hadoop_migration_assessment_tools_spark.streaming.ingest import ingest_stream

    corpus = spark.createDataFrame(
        [(1, " ".join(f"c{i}" for i in range(10)))], ["doc_id", "text"]
    )
    batch_rows = [
        (300, " ".join(f"a{i}" for i in range(10))),
        (301, " ".join(f"c{i}" for i in range(10))),  # exact vs corpus
        (302, " ".join(f"b{i}" for i in range(10))),
    ]
    incoming = spark.createDataFrame(batch_rows, ["doc_id", "text"])

    src = os.path.join(str(tmp_path), "src")
    incoming.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    adm_p, aud_p, ckpt = (
        os.path.join(str(tmp_path), d) for d in ("admitted", "audit", "ckpt")
    )
    ingest_stream(corpus, stream, adm_p, aud_p, ckpt).awaitTermination()

    b_admitted, b_audit = incremental_ingest(corpus, incoming)
    assert {r["doc_id"] for r in spark.read.parquet(adm_p).collect()} == {
        r["doc_id"] for r in b_admitted.collect()
    }
    assert {(r["doc_id"], r["reason"]) for r in spark.read.parquet(aud_p).collect()} == {
        (r["doc_id"], r["reason"]) for r in b_audit.collect()
    }


def test_streaming_daily_hll_registers_match_batch(spark, tmp_path):
    """Incremental sketch maintenance: the streamed per-day HLL register sets
    (bounded MAX state) must equal the batch hll_registers_grouped output
    register for register — merge-by-MAX is exactly what each micro-batch does
    to the state, so streamed == batch is the mergeability property live."""
    from hadoop_migration_assessment_tools_spark.ext.sketch import hll_registers_grouped
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_hll_registers,
    )

    src = str(tmp_path / "events_src")
    events = load_table(spark, SF, "events")
    events.write.parquet(src)

    stream = read_events_table_stream(spark, src)
    _run_available_now(daily_hll_registers(stream, p=5), "daily_hll", "complete")
    got = {
        (r["day"], r["reg"]): r["max_rank"] for r in spark.table("daily_hll").collect()
    }
    batch = hll_registers_grouped(
        events.select(F.to_date("ts").alias("day"), "user_id"), ["day"], "user_id", p=5
    )
    want = {(r["day"], r["reg"]): r["max_rank"] for r in batch.collect()}
    assert got == want and len(want) > 50


def test_streaming_daily_kmv_sketches_match_batch(spark, tmp_path):
    """Incremental KMV maintenance: the streamed per-day bottom-k hash sketches
    (bounded array state, folded across multiple micro-batches) must equal the
    batch per-day bottom-k — incremental folding is exactly the sketch's merge
    operator, so streamed == batch is the merge theorem live. Source is split
    into 4 files with maxFilesPerTrigger=1 to force a genuinely multi-batch
    fold."""
    from hadoop_migration_assessment_tools_spark.ext.sketch import kmv_hash
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_kmv_sketches,
    )
    from pyspark.sql.window import Window as W

    k = 32
    src = str(tmp_path / "events_src")
    events = load_table(spark, SF, "events")
    events.repartition(4).write.parquet(src)

    stream = read_events_table_stream(spark, src, max_files_per_trigger=1)
    _run_available_now(daily_kmv_sketches(stream, k=k), "daily_kmv", "update")
    emitted = spark.table("daily_kmv").collect()
    # final emission per day = the row with the max fold counter
    final: dict = {}
    for r in emitted:
        if r["day"] not in final or r["n_seen"] > final[r["day"]]["n_seen"]:
            final[r["day"]] = r
    got = {d: list(r["hashes"]) for d, r in final.items()}

    batch = (
        events.where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), kmv_hash("user_id").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(W.partitionBy("day").orderBy("h")))
        .filter(F.col("rn") <= k)
    )
    want: dict = {}
    for r in batch.collect():
        want.setdefault(r["day"], []).append(r["h"])
    want = {d: sorted(v) for d, v in want.items()}
    assert got == want and len(want) >= 2


def test_streaming_daily_sample_quantiles_match_batch(spark, tmp_path):
    """Incremental quantile-sketch maintenance: the streamed per-day bottom-k
    (hash, value) ROW samples — and the p50 read off them — must equal the
    batch per-day bottom-k sample, folded across 4 forced micro-batches.
    Same merge-theorem-live contract as the KMV test, with a payload column."""
    import math

    from pyspark.sql.window import Window as W

    from hadoop_migration_assessment_tools_spark.ext.sketch import kmv_hash
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_sample_quantiles,
    )

    k = 32
    src = str(tmp_path / "events_src")
    events = load_table(spark, SF, "events")
    events.repartition(4).write.parquet(src)

    stream = read_events_table_stream(spark, src, max_files_per_trigger=1)
    _run_available_now(daily_sample_quantiles(stream, k=k), "daily_sq", "update")
    final: dict = {}
    for r in spark.table("daily_sq").collect():
        if r["day"] not in final or r["n_seen"] > final[r["day"]]["n_seen"]:
            final[r["day"]] = r
    got = {d: sorted(zip(r["hashes"], r["vals"])) for d, r in final.items()}

    batch = (
        events.where(F.col("value").isNotNull() & F.col("event_id").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            kmv_hash("event_id").alias("h"),
            F.col("value").cast("double").alias("v"),
        )
        .withColumn("rn", F.row_number().over(W.partitionBy("day").orderBy("h", "v")))
        .filter(F.col("rn") <= k)
    )
    want: dict = {}
    for r in batch.collect():
        want.setdefault(r["day"], []).append((r["h"], r["v"]))
    want = {d: sorted(v) for d, v in want.items()}
    assert got == want and len(want) >= 2
    # the emitted p50 is the ceil(k'/2)-th smallest sampled value
    for d, r in final.items():
        vs = sorted(r["vals"])
        assert r["p50"] == vs[max(1, math.ceil(0.5 * len(vs))) - 1]


def test_streaming_daily_cms_counters_match_batch(spark, tmp_path):
    """SUM-mergeable CMS as a plain streaming aggregate: the streamed per-day
    counter tables (folded across 4 forced micro-batches) must equal the batch
    per-day CMS exactly — incremental aggregation IS the sketch's merge."""
    from hadoop_migration_assessment_tools_spark.ext.sketch import cms_counters
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_cms_counters,
    )

    src = str(tmp_path / "events_src")
    events = load_table(spark, SF, "events")
    events.repartition(4).write.parquet(src)

    stream = read_events_table_stream(spark, src, max_files_per_trigger=1)
    _run_available_now(daily_cms_counters(stream), "daily_cms", "complete")
    got = {
        (r["day"], r["row"], r["pos"]): r["cnt"]
        for r in spark.table("daily_cms").collect()
    }
    want = {}
    for day_row in (
        events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .agg(F.collect_list("event_type").alias("types"))
        .collect()
    ):
        day_df = spark.createDataFrame(
            [(t,) for t in day_row["types"]], "event_type string"
        )
        for r in cms_counters(day_df, "event_type").collect():
            want[(day_row["day"], r["row"], r["pos"])] = r["cnt"]
    assert got == want and len(want) > 20


# --- kill-restart recovery for the sketch maintainers (VERDICT r8 #6) ----------------


def _maintainer_kill_restart(spark, tmp_path, build, output_mode):
    """Shared harness: run the maintainer over an 8-file source with a
    continuous trigger + idempotent batch sink, KILL after the first committed
    batch (stop() can land mid-batch), restart on the SAME checkpoint with
    availableNow to drain, and return every committed emission with its
    batch_id. State recovery is the point: the restarted query must resume
    from the checkpointed sketch state, not refold from scratch."""
    import os

    from hadoop_migration_assessment_tools_spark.streaming.foreach import (
        IdempotentBatchSink,
    )
    from hadoop_migration_assessment_tools_spark.streaming.source import (
        read_events_table_stream,
    )

    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").repartition(8).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sink = IdempotentBatchSink(out)

    def start(available_now: bool):
        stream = read_events_table_stream(spark, src, max_files_per_trigger=1)
        writer = (
            build(stream)
            .writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
        )
        writer = (
            writer.trigger(availableNow=True)
            if available_now
            else writer.trigger(processingTime="1 seconds")
        )
        return writer.start()

    q = start(False)
    assert _wait_for_batches(os.path.join(out, "batch_id=*", "_SUCCESS"), 1) >= 1
    q.stop()  # the kill — may interrupt a later batch mid-write
    q.awaitTermination(60)
    start(True).awaitTermination(120)
    return spark.read.parquet(out)  # batch_id is a partition column


def test_priority_sample_maintainer_kill_restart_matches_batch(spark, tmp_path):
    """r11 — the weighted member of the maintainer family: per-day DLT
    priority samples maintained as top-(k+1) state must survive a mid-stream
    kill and equal the batch replay bit-for-bit — sample set, weights,
    priorities AND tau (the (k+1)-th priority, which is exactly why state
    keeps k+1 triples: keeping only k would silently drop the threshold
    witness)."""
    import hashlib

    from hadoop_migration_assessment_tools_spark.ext.sampling import PRIORITY_U_BITS
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_priority_samples,
    )

    k = 16
    emitted = _maintainer_kill_restart(
        spark, tmp_path, lambda s: daily_priority_samples(s, k=k), "update"
    ).collect()
    final: dict = {}
    for r in emitted:
        if r["day"] not in final or r["n_seen"] > final[r["day"]]["n_seen"]:
            final[r["day"]] = r

    events = load_table(spark, SF, "events").where(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    rows = events.select(
        F.to_date("ts").alias("day"),
        F.col("event_id").cast("long").alias("id"),
        (F.floor(F.col("value") * 100) + 1).cast("long").alias("w"),
    ).collect()

    def u_of(i):
        h = hashlib.md5(f"prio{i}".encode()).hexdigest()
        return int(h[:8], 16) % (1 << PRIORITY_U_BITS) + 1

    per_day: dict = {}
    for r in rows:
        q = (r["w"] << PRIORITY_U_BITS) // u_of(r["id"])
        per_day.setdefault(r["day"], {})[r["id"]] = (q, r["w"])
    assert set(final) == set(per_day) and len(final) >= 2
    for d, cur in per_day.items():
        ordered = sorted(cur.items(), key=lambda t: (-t[1][0], t[0]))
        want_tau = ordered[k][1][0] if len(ordered) > k else 0
        top = ordered[:k]
        got = final[d]
        assert got["n_seen"] == len(cur), d
        assert got["tau"] == want_tau, d
        assert list(got["ids"]) == [i for i, _ in top], d
        assert list(got["weights"]) == [w for _, (_, w) in top], d
        assert list(got["priorities"]) == [q for _, (q, _) in top], d


def test_state_sink_kill_restart_tree_matches_batch(spark, tmp_path):
    """VERDICT r10 #2 — the streaming PRODUCTION loop survives a mid-stream
    kill: update-mode KMV maintainer -> DailyStateOverwriteSink (foreachBatch,
    dynamic overwrite-by-day parquet) killed after the first committed write,
    restarted on the SAME checkpoint, drained — then a downstream BATCH read
    of the state tree must hold exactly ONE state row per day whose hashes
    equal the batch bottom-k sketch bit-for-bit and whose n_seen equals the
    exact per-day row count (no double-fold on batch replay)."""
    import os

    from pyspark.sql.window import Window as W

    from hadoop_migration_assessment_tools_spark.ext.sketch import kmv_hash
    from hadoop_migration_assessment_tools_spark.streaming.foreach import (
        DailyStateOverwriteSink,
    )
    from hadoop_migration_assessment_tools_spark.streaming.source import (
        read_events_table_stream,
    )
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_kmv_sketches,
    )

    k = 32
    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").repartition(8).write.parquet(src)
    state_dir, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    sink = DailyStateOverwriteSink(state_dir)

    def start(available_now: bool):
        stream = read_events_table_stream(spark, src, max_files_per_trigger=1)
        return sink.attach(
            daily_kmv_sketches(stream, k=k),
            checkpoint_dir=ckpt,
            trigger_seconds=None if available_now else 1,
            available_now=available_now,
        )

    q = start(False)
    assert _wait_for_batches(os.path.join(state_dir, "day=*"), 1) >= 1
    q.stop()  # the kill — may interrupt a later batch mid-write
    q.awaitTermination(60)
    start(True).awaitTermination(120)

    tree = spark.read.parquet(state_dir).select(
        F.col("day").cast("date").alias("day"), "n_seen", "hashes"
    )
    got_rows = tree.collect()
    per_day = {}
    for r in got_rows:
        per_day.setdefault(r["day"], []).append(r)
    # exactly one surviving state row per day (overwrite-by-day, not append)
    assert all(len(v) == 1 for v in per_day.values()), {
        d: len(v) for d, v in per_day.items()
    }
    got = {d: sorted(v[0]["hashes"]) for d, v in per_day.items()}

    events = load_table(spark, SF, "events").where(F.col("user_id").isNotNull())
    batch = (
        events.select(F.to_date("ts").alias("day"), kmv_hash("user_id").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(W.partitionBy("day").orderBy("h")))
        .filter(F.col("rn") <= k)
    )
    want: dict = {}
    for r in batch.collect():
        want.setdefault(r["day"], []).append(r["h"])
    assert got == {d: sorted(v) for d, v in want.items()} and len(got) >= 2
    exact = {
        r["day"]: r["n"]
        for r in events.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {d: v[0]["n_seen"] for d, v in per_day.items()} == exact


def test_kmv_maintainer_kill_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart mid-stream must reproduce the batch KMV sketch
    bit-for-bit: the restarted query folds the remaining files into RECOVERED
    state, so final hashes per day == the batch bottom-k exactly."""
    from pyspark.sql.window import Window as W

    from hadoop_migration_assessment_tools_spark.ext.sketch import kmv_hash
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_kmv_sketches,
    )

    k = 32
    emitted = _maintainer_kill_restart(
        spark, tmp_path, lambda s: daily_kmv_sketches(s, k=k), "update"
    ).collect()
    final: dict = {}
    for r in emitted:
        if r["day"] not in final or r["n_seen"] > final[r["day"]]["n_seen"]:
            final[r["day"]] = r
    got = {d: list(r["hashes"]) for d, r in final.items()}

    events = load_table(spark, SF, "events")
    batch = (
        events.where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), kmv_hash("user_id").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(W.partitionBy("day").orderBy("h")))
        .filter(F.col("rn") <= k)
    )
    want: dict = {}
    for r in batch.collect():
        want.setdefault(r["day"], []).append(r["h"])
    assert got == {d: sorted(v) for d, v in want.items()} and len(got) >= 2


def test_sample_quantile_maintainer_kill_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart for the quantile-sketch maintainer: recovered
    (hash, value) sample state + remaining batches == the batch bottom-k row
    sample bit-for-bit, including the p50 read off it."""
    import math

    from pyspark.sql.window import Window as W

    from hadoop_migration_assessment_tools_spark.ext.sketch import kmv_hash
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_sample_quantiles,
    )

    k = 32
    emitted = _maintainer_kill_restart(
        spark, tmp_path, lambda s: daily_sample_quantiles(s, k=k), "update"
    ).collect()
    final: dict = {}
    for r in emitted:
        if r["day"] not in final or r["n_seen"] > final[r["day"]]["n_seen"]:
            final[r["day"]] = r
    got = {d: sorted(zip(r["hashes"], r["vals"])) for d, r in final.items()}

    events = load_table(spark, SF, "events")
    batch = (
        events.where(F.col("value").isNotNull() & F.col("event_id").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            kmv_hash("event_id").alias("h"),
            F.col("value").cast("double").alias("v"),
        )
        .withColumn("rn", F.row_number().over(W.partitionBy("day").orderBy("h", "v")))
        .filter(F.col("rn") <= k)
    )
    want: dict = {}
    for r in batch.collect():
        want.setdefault(r["day"], []).append((r["h"], r["v"]))
    assert got == {d: sorted(v) for d, v in want.items()} and len(got) >= 2
    for d, r in final.items():
        vs = sorted(r["vals"])
        assert r["p50"] == vs[max(1, math.ceil(0.5 * len(vs))) - 1]


def test_hll_maintainer_kill_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart for the MAX-mergeable HLL maintainer (a plain
    watermarked streaming aggregate, like CMS but MAX instead of SUM): the
    final emission per register — the highest-batch_id row for each
    (day, reg) — must equal the batch registers exactly. Completes the
    kill-restart matrix across all four maintainers (KMV / sample / CMS / HLL;
    the scored-line parity rows certify uninterrupted streams, this certifies
    recovery)."""
    from hadoop_migration_assessment_tools_spark.ext.sketch import (
        hll_registers_grouped,
    )
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_hll_registers,
    )

    emitted = _maintainer_kill_restart(
        spark,
        tmp_path,
        lambda s: daily_hll_registers(s, watermark="3650 days", p=5),
        "update",
    ).collect()
    final: dict = {}
    for r in emitted:
        key = (r["day"], r["reg"])
        if key not in final or r["batch_id"] > final[key][0]:
            final[key] = (r["batch_id"], r["max_rank"])
    got = {k: v for k, (_, v) in final.items()}

    events = load_table(spark, SF, "events")
    want = {
        (r["day"], r["reg"]): r["max_rank"]
        for r in hll_registers_grouped(
            events.select(F.to_date("ts").alias("day"), "user_id"),
            ["day"],
            "user_id",
            p=5,
        ).collect()
    }
    assert got == want and len(want) > 20


def test_cms_maintainer_kill_restart_matches_batch(spark, tmp_path):
    """Checkpoint-restart for the SUM-mergeable CMS maintainer (a plain
    watermarked streaming aggregate in update mode): the final emission per
    counter cell — the highest-batch_id row for each (day, row, pos) — must
    equal the batch CMS exactly. A huge watermark keeps every day's state
    live so recovery, not eviction, is what's under test."""
    from hadoop_migration_assessment_tools_spark.ext.sketch import cms_counters
    from hadoop_migration_assessment_tools_spark.streaming.windows import (
        daily_cms_counters,
    )

    emitted = _maintainer_kill_restart(
        spark,
        tmp_path,
        lambda s: daily_cms_counters(s, watermark="3650 days"),
        "update",
    ).collect()
    final: dict = {}
    for r in emitted:
        key = (r["day"], r["row"], r["pos"])
        if key not in final or r["batch_id"] > final[key][0]:
            final[key] = (r["batch_id"], r["cnt"])
    got = {k: v for k, (_, v) in final.items()}

    events = load_table(spark, SF, "events")
    want: dict = {}
    for day_row in (
        events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .agg(F.collect_list("event_type").alias("types"))
        .collect()
    ):
        day_df = spark.createDataFrame(
            [(t,) for t in day_row["types"]], "event_type string"
        )
        for r in cms_counters(day_df, "event_type").collect():
            want[(day_row["day"], r["row"], r["pos"])] = r["cnt"]
    assert got == want and len(want) > 20


def test_bm25_index_ingest_kill_restart_matches_batch_index(spark, tmp_path):
    """r12 — the retrieval stack's ingest loop survives a mid-stream kill:
    documents streamed file-by-file through BM25IndexIngestSink (batch-id
    addressed, replay-idempotent), killed after the first committed batch,
    restarted on the SAME checkpoint, drained — the read-back index must
    equal build_bm25_index over the full corpus EXACTLY (doc x term x tf x dl,
    empty-doc sentinels included), and hold each doc exactly once."""
    import os

    from hadoop_migration_assessment_tools_spark.ext.retrieval import build_bm25_index
    from hadoop_migration_assessment_tools_spark.streaming.indexing import (
        BM25IndexIngestSink,
    )

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "docs_src")
    docs.coalesce(4).write.parquet(src)
    index_dir, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    sink = BM25IndexIngestSink(index_dir)

    def start(available_now: bool):
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return sink.attach(
            stream,
            checkpoint_dir=ckpt,
            trigger_seconds=None if available_now else 1,
            available_now=available_now,
        )

    q = start(False)
    assert _wait_for_batches(os.path.join(index_dir, "batch_id=*/_SUCCESS"), 1) >= 1
    q.stop()  # the kill — may interrupt a later batch mid-write
    q.awaitTermination(60)
    start(True).awaitTermination(120)

    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in spark.read.parquet(index_dir)
        .select("doc_id", "dl", "term", "tf")
        .collect()
    }
    want = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in build_bm25_index(docs).collect()
    }
    assert got == want and len(got) > 0
    # every doc present exactly once across batch dirs (no replay duplicates)
    import collections

    doc_batches = collections.Counter(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(index_dir).select("doc_id", "batch_id").distinct().collect()
    )
    per_doc = collections.Counter(d for d, _ in doc_batches)
    assert max(per_doc.values()) == 1


def test_hier_ivf_index_sink_replay_idempotent(spark, tmp_path):
    """r13 streaming ANN ingest: a replayed batch (checkpoint recovery) must
    rewrite byte-identical index content, and the stream-built tree must equal
    the batch assigner's output row-for-row — the BM25IndexIngestSink
    discipline applied to vectors."""
    from pyspark.sql import functions as F

    from hadoop_migration_assessment_tools_spark.ext.similarity import (
        assign_centroids_hier_quantized,
        train_hier_centroids_quantized,
    )
    from hadoop_migration_assessment_tools_spark.sources.readers import load_table
    from hadoop_migration_assessment_tools_spark.streaming.indexing import (
        HierIVFIndexIngestSink,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sample = [r[0] for r in emb.orderBy("vec_id").limit(256).select("embedding").collect()]
    coarse, fine = train_hier_centroids_quantized(sample, 4, 4, 2, 1)
    sink = HierIVFIndexIngestSink(str(tmp_path / "index"), coarse, fine)

    batch = emb.where(F.col("vec_id") < 100).select("vec_id", "embedding")
    sink(batch, 0)
    first = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(str(tmp_path / "index")).collect()
    )
    sink(batch, 0)  # replay: same batch id, same rows -> identical content
    second = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(str(tmp_path / "index")).collect()
    )
    assert first == second and len(first) == 100
    # stream-built content == the batch assigner's output
    expect = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in assign_centroids_hier_quantized(batch, coarse, fine).collect()
    )
    assert first == expect
