"""Streaming sources (SRC1 streaming form, SURVEY §2.8).

The reference's hook is a long-lived async event processor; its Spark-native
equivalent is a file-source stream over the event log directory (new files appear per
rollover window — exactly what the sink writes) or any other streaming source mapped
into HOOK_INPUT_SCHEMA / QUERY_EVENTS_SCHEMA.

STR2 note (bounded queue / load shedding): Spark's source backpressure is
``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` — events buffer in the source
instead of being dropped; a documented semantic upgrade over the reference's
at-most-once queue (EventLogger.java:155-166).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import EVENT_LOG_SCHEMA, check_log_format, decode_avro_files


def read_event_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream ``EVENT_LOG_SCHEMA`` rows from a (growing) log tree: the streaming form
    of ``sources.readers.read_event_log``, with its schema and its formats, so a
    stream and a batch read of the same tree give the same rows.

    fmt='avro' tails a reference-layout tree (``<base>/<YYYY-MM-DD>/dwhassessment_*.avro``)
    the way the reference's own downstream pipeline consumes it (new files appear per
    rollover window; SRC4): the ``binaryFile`` streaming source tracks new files and
    the batch reader's decoder (``decode_avro_files``) turns them into rows."""
    check_log_format(fmt)
    per_trigger = {} if max_files_per_trigger is None else {"maxFilesPerTrigger": max_files_per_trigger}
    if fmt == "avro":
        return decode_avro_files(
            spark.readStream.format("binaryFile")
            # streaming sources require an explicit schema; binaryFile's is fixed
            .schema("path string, modificationTime timestamp, length long, content binary")
            .option("pathGlobFilter", "*.avro")
            .option("recursiveFileLookup", "true")
            .options(**per_trigger)
            .load(path)
        )
    return spark.readStream.schema(EVENT_LOG_SCHEMA).options(**per_trigger).parquet(path)


def read_events_table_stream(
    spark: SparkSession,
    path: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the analytics `events` shape from a directory of parquet files."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format("parquet").load(path)
