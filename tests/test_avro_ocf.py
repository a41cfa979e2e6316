"""Avro OCF codec + rolling-writer tests (SRC2/SRC4/SRC5 fidelity).

Three layers, mirroring the reference's own test strategy (SURVEY §5):
1. codec unit tests — binary-encoding edges, both codecs, schema conversion;
2. JVM cross-validation — files written by our pure-Python codec are read back with
   the real ``org.apache.avro`` DataFileReader that ships on Spark's classpath (and
   vice versa): true interop with the reference's writer, not self-consistency;
3. rollover-boundary tests with a tickable fixed clock, the Python counterpart of
   DatePartitionedRecordsWriterFactoryTest.java:100-165,213-239.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os

import pytest

from hadoop_migration_assessment_tools_spark.schema import QUERY_EVENTS_SCHEMA
from hadoop_migration_assessment_tools_spark.sources.avro_ocf import (
    OcfWriter,
    RollingOcfWriterFactory,
    TickableFixedClock,
    _read_long,
    _write_long,
    avsc_to_struct,
    format_log_instant,
    generate_logger_id,
    read_ocf,
    read_ocf_bytes,
    struct_to_avsc,
    write_ocf,
)


def _events():
    return [
        {
            "QueryId": "hive_query_id_999",  # canonical fixture id (TestUtils.java:64-66)
            "QueryText": "SELECT * FROM employees",
            "EventType": "QUERY_SUBMITTED",
            "StartTime": dt.datetime(2024, 1, 2, 3, 4, 5, 123000),
            "TablesRead": ["db@a", "db@b"],
            "TablesWritten": [],
            "HookVersion": "1.0",
        },
        {
            "QueryId": "q2",
            "EventType": "QUERY_COMPLETED",
            "EndTime": dt.datetime(1969, 12, 31, 23, 59, 59),  # pre-epoch millis
            "Status": "FAIL",
            "ErrorMessage": "boom éü中文",
            "CountersObject": '[[{"g":{"c":1}}]]',
        },
    ]


# --- 1. codec units -------------------------------------------------------------------


def test_zigzag_varint_edges():
    # spec goldens: 1 -> 0x02, -1 -> 0x01
    b = io.BytesIO()
    _write_long(b, 1)
    assert b.getvalue() == b"\x02"
    b = io.BytesIO()
    _write_long(b, -1)
    assert b.getvalue() == b"\x01"
    for v in (0, 63, 64, -64, -65, 2**62, -(2**63), 2**63 - 1):
        b = io.BytesIO()
        _write_long(b, v)
        b.seek(0)
        assert _read_long(b) == v


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_roundtrip(tmp_path, codec):
    path = str(tmp_path / "t.avro")
    avsc = struct_to_avsc(QUERY_EVENTS_SCHEMA)
    assert write_ocf(path, avsc, _events(), codec=codec) == 2
    avsc2, out = read_ocf(path)
    assert avsc2["name"] == "QueryEvents"
    assert out[0]["QueryId"] == "hive_query_id_999"
    assert out[0]["StartTime"] == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    assert out[0]["TablesRead"] == ["db@a", "db@b"]
    assert out[0]["PartitionsRead"] is None  # absent -> union null branch (avsc default)
    assert out[1]["EndTime"] == dt.datetime(1969, 12, 31, 23, 59, 59)
    assert out[1]["ErrorMessage"] == "boom éü中文"


def test_bad_magic_fails_fast():
    # fail-fast on a non-avro payload, like AvroSchemaLoader.java:28-37
    with pytest.raises(ValueError, match="bad magic"):
        read_ocf_bytes(b"PAR1not-avro-at-all")


def test_schema_conversion_roundtrips():
    avsc = struct_to_avsc(QUERY_EVENTS_SCHEMA)
    # all 33 fields present, in declaration order, each a nullable union w/ null default
    assert len(avsc["fields"]) == 33
    assert [f["name"] for f in avsc["fields"]][:4] == [
        "QueryId",
        "QueryType",
        "QueryText",
        "EventType",
    ]
    assert all(f["type"][0] == "null" and f["default"] is None for f in avsc["fields"])
    ts = dict((f["name"], f["type"]) for f in avsc["fields"])["StartTime"]
    assert ts[1] == {"type": "long", "logicalType": "timestamp-millis"}
    back = avsc_to_struct(avsc)
    assert [f.name for f in back.fields] == [f.name for f in QUERY_EVENTS_SCHEMA.fields]
    assert [f.dataType for f in back.fields] == [
        f.dataType for f in QUERY_EVENTS_SCHEMA.fields
    ]


def test_nested_map_and_record_roundtrip(tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType(), True),
                        T.StructField("b", T.ArrayType(T.DoubleType(), False), True),
                    ]
                ),
                True,
            ),
            T.StructField("raw", T.BinaryType(), True),
            T.StructField("d", T.DateType(), True),
            T.StructField("flag", T.BooleanType(), True),
        ]
    )
    avsc = struct_to_avsc(schema, name="Nested")
    recs = [
        {
            "k": "x",
            "m": {"a": 1, "b": -(2**40)},
            "s": {"a": 7, "b": [1.5, -2.25]},
            "raw": b"\x00\xff\x10",
            "d": dt.date(1999, 12, 31),
            "flag": True,
        },
        {"k": "y", "m": None, "s": None, "raw": None, "d": None, "flag": None},
    ]
    path = str(tmp_path / "n.avro")
    write_ocf(path, avsc, recs)
    _, out = read_ocf(path)
    assert out == recs


# --- 2. JVM cross-validation ----------------------------------------------------------


def test_jvm_reads_python_ocf(spark, tmp_path):
    """Interop proof: the real Apache Avro DataFileReader (Spark's own classpath jar)
    must read our files byte-for-byte — this is what 'the reference's persistence
    format actually executes' means without a spark-avro datasource."""
    jvm = spark._jvm
    avsc = struct_to_avsc(QUERY_EVENTS_SCHEMA)
    for codec in ("null", "deflate"):
        path = str(tmp_path / f"py_{codec}.avro")
        write_ocf(path, avsc, _events(), codec=codec)
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        out = []
        while reader.hasNext():
            out.append(reader.next())
        reader.close()
        assert len(out) == 2
        assert out[0].get("QueryId").toString() == "hive_query_id_999"
        assert out[0].get("TablesRead").toString() == "[db@a, db@b]"
        assert out[0].get("StartTime") == 1704164645123  # timestamp-millis long
        assert out[1].get("StartTime") is None
        assert out[1].get("ErrorMessage").toString() == "boom éü中文"


def test_python_reads_jvm_ocf(spark, tmp_path):
    """Reverse direction: files produced by the JVM writer (identical to the reference's
    RecordsWriter.java:35-60 DataFileWriter path) decode with our codec."""
    jvm = spark._jvm
    avsc = struct_to_avsc(QUERY_EVENTS_SCHEMA)
    path = str(tmp_path / "jvm.avro")
    schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(avsc))
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.create(schema, jvm.java.io.File(path))
    b = jvm.org.apache.avro.generic.GenericRecordBuilder(schema)
    b.set("QueryId", "jq1")
    b.set("EventType", "QUERY_SUBMITTED")
    b.set("StartTime", 1704164645123)
    arr = jvm.java.util.ArrayList()
    arr.add("db@x")
    b.set("TablesRead", arr)
    writer.append(b.build())
    writer.close()
    _, out = read_ocf(path)
    assert out[0]["QueryId"] == "jq1"
    assert out[0]["StartTime"] == dt.datetime(2024, 1, 2, 3, 4, 5, 123000)
    assert out[0]["TablesRead"] == ["db@x"]
    assert out[0]["Status"] is None


# --- 3. rollover boundaries (tickable clock) ------------------------------------------


def test_log_instant_format():
    # LOG_TIME_FORMAT: no colons, fraction only when nonzero, minimal digits (:53-64)
    assert format_log_instant(dt.datetime(2023, 5, 26, 14, 30, 5)) == "2023-05-26T143005"
    assert (
        format_log_instant(dt.datetime(2023, 5, 26, 14, 30, 5, 123000))
        == "2023-05-26T143005.123"
    )
    assert (
        format_log_instant(dt.datetime(2023, 5, 26, 14, 30, 5, 1))
        == "2023-05-26T143005.000001"
    )


def test_logger_id_shape():
    ids = {generate_logger_id() for _ in range(50)}
    assert len(ids) == 50
    assert all(len(i) == 10 and i.isalnum() for i in ids)


def _factory(tmp_path, clock, interval=3600):
    from pyspark.sql import types as T

    avsc = struct_to_avsc(
        T.StructType([T.StructField("QueryId", T.StringType(), True)]), name="Mini"
    )
    return RollingOcfWriterFactory(
        str(tmp_path / "logs"),
        avsc,
        clock=clock,
        logger_id="testLogger",  # 10 alnum chars, like IdGenerator.java:22-30
        rollover_interval_seconds=interval,
    )


def test_rollover_at_interval(tmp_path):
    """Mirrors DatePartitionedRecordsWriterFactoryTest.java:100-165: writes before the
    interval elapses share a file; the first write after the rollover instant opens a
    new instant-named file."""
    clock = TickableFixedClock(dt.datetime(2023, 5, 26, 10, 0, 0))
    fac = _factory(tmp_path, clock, interval=3600)
    # rollover time = min(10:00+1h truncated to minute, next midnight) = 11:00
    assert fac.rollover_time == dt.datetime(2023, 5, 26, 11, 0, 0)
    fac.write({"QueryId": "a"})
    first = fac.current_path
    assert os.path.basename(first) == "dwhassessment_2023-05-26T100000_testLogger.avro"
    clock.tick(seconds=3599)
    fac.maybe_rollover()  # 10:59:59 — not yet eligible
    fac.write({"QueryId": "b"})
    assert fac.current_path == first
    clock.tick(seconds=62)  # 11:01:01 > 11:00 — rollover
    fac.maybe_rollover()
    fac.write({"QueryId": "c"})
    second = fac.current_path
    assert second != first
    assert os.path.basename(second) == "dwhassessment_2023-05-26T110101_testLogger.avro"
    # next rollover re-derived from 'now': min(11:01 + 1h truncated, midnight) = 12:01
    assert fac.rollover_time == dt.datetime(2023, 5, 26, 12, 1, 0)
    fac.close()
    _, first_out = read_ocf(first)
    _, second_out = read_ocf(second)
    assert [r["QueryId"] for r in first_out] == ["a", "b"]
    assert [r["QueryId"] for r in second_out] == ["c"]


def test_rollover_forced_at_utc_midnight(tmp_path):
    """Day boundary always wins: next rollover = min(start+interval, next UTC midnight)
    (DatePartitionedRecordsWriterFactory.java:196-202), and the new file lands in the
    new day's directory (:204-206)."""
    clock = TickableFixedClock(dt.datetime(2023, 5, 26, 23, 30, 0))
    fac = _factory(tmp_path, clock, interval=3600 * 4)
    assert fac.rollover_time == dt.datetime(2023, 5, 27, 0, 0, 0)  # midnight < 03:30
    fac.write({"QueryId": "a"})
    assert "/2023-05-26/" in fac.current_path
    clock.tick(seconds=3600)  # 00:30 next day
    fac.write({"QueryId": "b"})
    assert "/2023-05-27/" in fac.current_path
    fac.close()


def test_no_files_until_first_write(tmp_path):
    """Lazy writer creation (:103-105; negative pattern from
    DatePartitionedRecordsWriterFactoryTest.java:86-97: no files if nothing written)."""
    clock = TickableFixedClock(dt.datetime(2023, 5, 26, 10, 0, 0))
    fac = _factory(tmp_path, clock)
    fac.maybe_rollover()
    fac.close()
    base = str(tmp_path / "logs")
    assert all(not files for _, _, files in os.walk(base))


def test_write_with_retries_backoff_and_reopen(tmp_path, monkeypatch):
    """Retry policy mirror (EventLogger.java:196-239): quadratic backoff sleeps
    (0, 1, 4 s), writer close+reopen between attempts, drop after exhaustion."""
    from pyspark.sql import types as T

    from hadoop_migration_assessment_tools_spark.sources.avro_ocf import (
        RollingOcfWriterFactory,
        write_with_retries,
    )

    clock = TickableFixedClock(dt.datetime(2023, 5, 26, 10, 0, 0))
    avsc = struct_to_avsc(
        T.StructType([T.StructField("QueryId", T.StringType(), True)]), name="Mini"
    )
    fac = RollingOcfWriterFactory(
        str(tmp_path / "logs"), avsc, clock=clock, logger_id="retryLogr1"
    )
    sleeps: list[float] = []

    # all attempts fail -> False, slept 0,1,4
    fails = 0

    real_write = fac.write

    def flaky(record, fail_times):
        nonlocal fails
        if fails < fail_times:
            fails += 1
            fac.close()
            raise OSError("disk hiccup")
        real_write(record)

    fac.write = lambda r: flaky(r, 99)
    assert not write_with_retries(fac, {"QueryId": "x"}, sleep=sleeps.append)
    assert sleeps == [0, 1, 4]

    # second attempt succeeds -> True, record lands
    fails, sleeps[:] = 0, []
    fac.write = lambda r: flaky(r, 1)
    assert write_with_retries(fac, {"QueryId": "y"}, sleep=sleeps.append)
    assert sleeps == [0, 1]
    path = fac.current_path
    fac.close()
    _, out = read_ocf(path)
    assert [r["QueryId"] for r in out] == ["y"]


# --- negative / robustness (reference §5.7 pattern) ----------------------------------


def test_unsupported_spark_type_rejected():
    from pyspark.sql import types as T

    with pytest.raises(TypeError, match="unsupported Spark type"):
        struct_to_avsc(T.StructType([T.StructField("x", T.DecimalType(10, 2), True)]))


def test_corrupt_block_boundary_detected(tmp_path):
    """A flipped sync marker must fail loudly, not return garbage rows."""
    from pyspark.sql import types as T

    avsc = struct_to_avsc(
        T.StructType([T.StructField("QueryId", T.StringType(), True)]), name="Mini"
    )
    path = str(tmp_path / "c.avro")
    write_ocf(path, avsc, [{"QueryId": "a"}, {"QueryId": "b"}])
    data = bytearray(open(path, "rb").read())
    data[-1] ^= 0xFF  # corrupt the trailing sync marker
    with pytest.raises(ValueError, match="sync marker"):
        read_ocf_bytes(bytes(data))


def test_avro_tree_read_skips_non_avro_files(spark, tmp_path):
    """SET1 robustness: stray non-avro files in the tree (e.g. _SUCCESS markers,
    parquet siblings) are excluded by the glob, not decoded."""
    import datetime as dtm

    from hadoop_migration_assessment_tools_spark.schema import QUERY_EVENTS_SCHEMA
    from hadoop_migration_assessment_tools_spark.sources.readers import read_event_log
    from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink

    base = str(tmp_path / "tree")
    row = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
    row.update(QueryId="q1", EventType="QUERY_SUBMITTED",
               StartTime=dtm.datetime(2024, 1, 1, 12, 0))
    df = spark.createDataFrame([row], schema=QUERY_EVENTS_SCHEMA)
    DatePartitionedSink(base, fmt="avro").write_batch(df)
    os.makedirs(os.path.join(base, "2024-01-01"), exist_ok=True)
    with open(os.path.join(base, "2024-01-01", "_SUCCESS"), "w") as f:
        f.write("")
    with open(os.path.join(base, "stray.txt"), "w") as f:
        f.write("not avro")
    back = read_event_log(spark, base, fmt="avro")
    assert back.count() == 1


def _batch_and_stream(spark, base, ckpt, *cols):
    """``cols`` of the batch read and of a stream tailing the same tree, both sorted."""
    from hadoop_migration_assessment_tools_spark.sources.readers import read_event_log
    from hadoop_migration_assessment_tools_spark.streaming.source import read_event_stream

    batch = read_event_log(spark, base, fmt="avro").select(*cols).collect()
    name = "avro_tail_" + os.path.basename(ckpt)
    q = (
        read_event_stream(spark, base, fmt="avro").select(*cols)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(180), "stream did not drain the tree"
        stream = spark.table(name).collect()
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    return sorted(batch), sorted(stream)


def test_avro_tree_event_date_from_day_dir(spark, tmp_path):
    """EventDate is the day directory's ``YYYY-MM-DD`` name read as a date, in batch
    and in stream. "2024-99-99" has a date's shape but is no date; it, a foreign dir
    and the ISO basic ("20240102") and week ("2024-W01-2") forms, which are not the
    sink's day-dir names, degrade to EventDate=NULL and their rows still load."""
    avsc = struct_to_avsc(QUERY_EVENTS_SCHEMA)
    base = tmp_path / "tree"
    for day, qid in [
        ("2024-01-02", "q1"),
        ("2024-02-28", "q2"),
        ("not-a-date", "qmisc"),
        ("2024-99-99", "qbad"),
        ("20240102", "qbasic"),
        ("2024-W01-2", "qweek"),
    ]:
        (base / day).mkdir(parents=True)
        write_ocf(str(base / day / "dwhassessment_1.avro"), avsc, [{"QueryId": qid}])
    expected = sorted([
        ("q1", dt.date(2024, 1, 2)),
        ("q2", dt.date(2024, 2, 28)),
        ("qbad", None),
        ("qbasic", None),
        ("qmisc", None),
        ("qweek", None),
    ])
    batch, stream = _batch_and_stream(
        spark, str(base), str(tmp_path / "ckpt"), "QueryId", "EventDate"
    )
    assert [tuple(r) for r in batch] == expected
    assert [tuple(r) for r in stream] == expected


def test_avro_times_survive_a_non_utc_worker(spark, tmp_path, monkeypatch):
    """timestamp-millis is a UTC instant whatever the Python worker's local zone.
    Workers are keyed by their environment, so setting TZ starts new ones in
    America/New_York (UTC-4 on 2024-03-10 07:30Z). The sink must store 07:30, and
    batch and stream reads must return 07:30 both for a sink-written tree and for a
    file written straight through the codec."""
    from pyspark.sql import functions as F

    from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink

    monkeypatch.setitem(spark.sparkContext.environment, "TZ", "America/New_York")
    millis = 1710055800000  # 2024-03-10T07:30:00Z
    instant = dt.datetime(2024, 3, 10, 7, 30)

    sink_tree = str(tmp_path / "sink_tree")
    row = {f.name: None for f in QUERY_EVENTS_SCHEMA.fields}
    row.update(QueryId="q1", EventType="QUERY_SUBMITTED")
    df = spark.createDataFrame([row], schema=QUERY_EVENTS_SCHEMA).withColumn(
        "StartTime", F.timestamp_millis(F.lit(millis))
    )
    DatePartitionedSink(sink_tree, fmt="avro").write_batch(df)
    (written,) = [
        os.path.join(d, f) for d, _, fs in os.walk(sink_tree) for f in fs
    ]
    assert read_ocf(written)[1][0]["StartTime"] == instant

    codec_tree = tmp_path / "codec_tree"
    (codec_tree / "2024-03-10").mkdir(parents=True)
    write_ocf(
        str(codec_tree / "2024-03-10" / "dwhassessment_1.avro"),
        struct_to_avsc(QUERY_EVENTS_SCHEMA),
        [{"QueryId": "q1", "StartTime": instant}],
    )
    for tree in (sink_tree, str(codec_tree)):
        batch, stream = _batch_and_stream(
            spark, tree, str(tmp_path / ("ckpt_" + os.path.basename(tree))),
            F.unix_millis("StartTime"),
        )
        assert [r[0] for r in batch] == [millis], tree
        assert [r[0] for r in stream] == [millis], tree


def test_arrow_batch_matches_from_pylist():
    """The decoder's Arrow builder gives what pyarrow's own Python-object
    conversion gives (the reference here), for every EVENT_LOG_SCHEMA column type:
    missing and extra fields, NULLs, NULL and empty lists, a NULL list item,
    non-ASCII text, sub-second and pre-epoch times."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from hadoop_migration_assessment_tools_spark.sources.readers import (
        EVENT_LOG_SCHEMA,
        arrow_batch,
    )

    schema = to_arrow_schema(EVENT_LOG_SCHEMA)
    records = [
        dict(_events()[0], TablesRead=["db@a", None, "db@é中"], EventDate=dt.date(2024, 1, 2)),
        dict(_events()[1], TablesRead=None, Unknown="dropped"),
        {"EndTime": dt.datetime(2024, 3, 10, 7, 30), "EventDate": None},
    ]
    got = arrow_batch(records, schema)
    got.validate(full=True)
    assert got.equals(pa.RecordBatch.from_pylist(records, schema=schema))
    assert arrow_batch([], schema).num_rows == 0


def test_arrow_batch_keeps_pandas_out_of_the_worker():
    """Every Python worker that decodes or writes Avro builds Arrow batches; pyarrow's
    own conversion would import pandas into each of them (~40 MB of RSS apiece)."""
    import subprocess
    import sys

    code = (
        "import sys, datetime as dt, pyarrow as pa\n"
        "from pyspark.sql.pandas.types import to_arrow_schema\n"
        "from hadoop_migration_assessment_tools_spark.sources.readers import EVENT_LOG_SCHEMA, arrow_batch\n"
        "b = arrow_batch([{'QueryId': 'q', 'StartTime': dt.datetime(2024, 1, 1),"
        " 'TablesRead': ['t'], 'EventDate': dt.date(2024, 1, 1)}], to_arrow_schema(EVENT_LOG_SCHEMA))\n"
        "b.to_pylist()\n"
        "assert 'pandas' not in sys.modules, 'pandas imported'\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], check=True, cwd=root, timeout=120)
