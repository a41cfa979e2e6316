"""Batch sources (SRC6/SRC7).

Reads the driver-provided relational corpus (TESTDATA.md) and any QueryEvents log
directory (the output of our sink, or reference-produced dwhassessment_*.avro trees —
reference reader equivalent: testing/TestUtils.java:173-193).

Scale notes: plain ``spark.read.parquet`` keeps predicate pushdown / column pruning /
partition pruning in play — never pre-collect or pre-filter driver-side.
"""

from __future__ import annotations

import datetime
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import CORPUS_TABLES
from ..schema import QUERY_EVENTS_SCHEMA
from .avro_ocf import read_ocf_bytes
from .sink import PARTITION_COL


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame (lazy scan; pushdown-friendly).

    events.ts is TIMESTAMP(NANOS) in Parquet, which Spark 4 refuses outright
    (PARQUET_TYPE_ILLEGAL). We read it as epoch-nanos long (legacy conf, set at runtime
    so it works in any caller's session) and floor-divide to a microsecond timestamp —
    the same truncation DuckDB applies on read, keeping oracle parity exact.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] with no zone reads as TIMESTAMP_NTZ, which several
            # builtins (unix_millis, ...) reject. Session TZ is UTC, so the cast
            # to TIMESTAMP is value-preserving and restores one uniform ts type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all corpus tables."""
    return {name: load_table(spark, sf_dir, name) for name in CORPUS_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for spark.sql use."""
    for name in CORPUS_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: What every event-log read returns, batch or stream, parquet or Avro: the record
#: schema plus the day directory's date.
EVENT_LOG_SCHEMA = T.StructType(
    list(QUERY_EVENTS_SCHEMA.fields) + [T.StructField(PARTITION_COL, T.DateType(), True)]
)

#: The only day-directory name that carries a date: ``YYYY-MM-DD``, as the sink writes.
_DAY_DIR = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")


def check_log_format(fmt: str) -> None:
    """Raise ValueError unless ``fmt`` is a log format the readers know."""
    if fmt not in ("parquet", "avro"):
        raise ValueError(f"unsupported event log format {fmt!r}")


def read_event_log(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a (possibly date-partitioned, multi-file) QueryEvents log tree as one
    ``EVENT_LOG_SCHEMA`` dataset.

    SET1 multi-source union: a glob/dir read is the Spark-native union of all logger
    instances × days × rollover files (reference asserts the same invariant across its
    dir tree in testing/TestUtils.java:178-183).

    Fields are picked by name under one declared schema, so a log tree written across
    hook versions reads the same way in every format: a field a file lacks reads as
    NULL and a field it adds is dropped. fmt='parquet' reads ``EventDate`` from the
    hive-style partition directories (NULL in a flat tree); with the schema declared,
    planning touches no file footer. fmt='avro' reads reference-layout trees
    (``<base>/<YYYY-MM-DD>/dwhassessment_*.avro``, written by our sink or by the
    reference hook itself): the ``binaryFile`` source lists the files and
    ``decode_avro_files`` decodes each one in a task, the same decoder the streaming
    tail uses.
    """
    check_log_format(fmt)
    if fmt == "avro":
        return decode_avro_files(
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.avro")
            .option("recursiveFileLookup", "true")
            .load(path)
        )
    return spark.read.schema(EVENT_LOG_SCHEMA).parquet(path)


def _day_of_dir(name: str) -> datetime.date | None:
    """The date a ``YYYY-MM-DD`` day-directory name stands for; None for any other
    name, including the ISO basic and week forms ``date.fromisoformat`` also takes."""
    if not _DAY_DIR.fullmatch(name):
        return None
    try:
        return datetime.date.fromisoformat(name)
    except ValueError:  # the shape of a date but no date, e.g. 2024-99-99
        return None


def decode_avro_files(binary: DataFrame) -> DataFrame:
    """Decode a ``binaryFile`` relation of OCF files, batch or streaming, into
    ``EVENT_LOG_SCHEMA`` rows.

    Each file is decoded in a task by the built-in codec (sources/avro_ocf.py) and
    handed back as one Arrow batch (``mapInArrow``, which is streaming-legal), so
    memory is bounded by one rollover file. Record fields are picked by name: a
    field a file lacks reads as NULL and a field it adds is dropped. ``EventDate``
    is the parent directory's date (``_day_of_dir``), NULL when the name is no date.
    Times cross as UTC epoch values, so the Python worker's local time zone plays
    no part.
    """
    arrow_schema = to_arrow_schema(EVENT_LOG_SCHEMA)

    def decode(batches):
        for batch in batches:
            paths, contents = batch.column("path"), batch.column("content")
            for i in range(batch.num_rows):
                day = _day_of_dir(os.path.basename(os.path.dirname(paths[i].as_py())))
                _, records = read_ocf_bytes(contents[i].as_py())
                if not records:
                    continue
                for rec in records:
                    rec[PARTITION_COL] = day
                yield arrow_batch(records, arrow_schema)

    return binary.select("path", "content").mapInArrow(decode, EVENT_LOG_SCHEMA)


_EPOCH = datetime.datetime(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def arrow_batch(records: list[dict], schema):
    """``pa.RecordBatch.from_pylist(records, schema=schema)`` for the column types of
    ``EVENT_LOG_SCHEMA`` (string, list of string, microsecond timestamp from naive
    UTC ``datetime``, date) plus int64, built from buffers. pyarrow's conversion of
    Python objects imports pandas, which would add ~40 MB to every Python worker."""
    import array

    import numpy as np
    import pyarrow as pa

    def validity(values):
        present = [v is not None for v in values]
        return None if all(present) else pa.py_buffer(np.packbits(present, bitorder="little"))

    def strings(values):
        offsets, data = array.array("i", [0]), []
        for v in values:
            if v is not None:
                data.append(v.encode("utf-8"))
                offsets.append(offsets[-1] + len(data[-1]))
            else:
                offsets.append(offsets[-1])
        buffers = [validity(values), pa.py_buffer(offsets), pa.py_buffer(b"".join(data))]
        return pa.Array.from_buffers(pa.string(), len(values), buffers)

    n, columns = len(records), []
    for field in schema:
        t, values = field.type, [r.get(field.name) for r in records]
        if pa.types.is_string(t):
            columns.append(strings(values))
            continue
        if pa.types.is_list(t) and pa.types.is_string(t.value_type):
            offsets = array.array("i", [0])
            for v in values:
                offsets.append(offsets[-1] + (len(v) if v is not None else 0))
            items = strings([s for v in values if v is not None for s in v])
            buffers = [validity(values), pa.py_buffer(offsets)]
            columns.append(pa.Array.from_buffers(t, n, buffers, children=[items]))
            continue
        if pa.types.is_timestamp(t) and t.unit == "us":
            data = array.array("q", [0 if v is None else (v - _EPOCH) // _US for v in values])
        elif pa.types.is_date32(t):
            data = array.array("i", [0 if v is None else (v - _EPOCH_DATE).days for v in values])
        elif pa.types.is_int64(t):
            data = array.array("q", [0 if v is None else v for v in values])
        else:
            raise TypeError(f"no Arrow builder for {field}")
        columns.append(pa.Array.from_buffers(t, n, [validity(values), pa.py_buffer(data)]))
    return pa.RecordBatch.from_arrays(columns, schema=schema)


def read_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL tree in PERMISSIVE mode with a dead-letter split: returns
    (good_rows, quarantined_raw_lines). Malformed lines land whole in the corrupt
    column instead of failing the job or silently dropping — at 100 TB a feed WILL
    contain garbage, and the quarantine df is what ops replays after fixing the
    producer. The extra column is dropped from the good side so downstream schemas
    stay clean.

    Both returned DataFrames share one cached parse of the input (required for the
    corrupt-column split, SPARK-21610). The cache pins executor memory until
    released: after consuming BOTH splits, call
    ``good.sparkSession.catalog.clearCache()`` or keep a handle and
    ``unpersist()`` it — long-lived sessions that call this per feed generation
    will otherwise accumulate cached parse trees (ADVICE r3)."""
    corrupt = "_corrupt_record"
    full = spark.read.schema(f"{schema}, {corrupt} string").option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", corrupt).json(path)
    # Spark requires caching/materialization before filtering on the corrupt column
    # (SPARK-21610: the column is populated only when referenced at parse time)
    full = full.cache()
    good = full.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = full.filter(F.col(corrupt).isNotNull()).select(F.col(corrupt).alias("raw_line"))
    return good, bad
