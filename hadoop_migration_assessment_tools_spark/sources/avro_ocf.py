"""Pure-Python Avro Object Container File codec (SRC2/SRC5/SRC6 fidelity layer).

The reference's one and only persistence format is the Avro OCF written by
``RecordsWriter.java:35-60`` (``DataFileWriter`` over a ``GenericDatumWriter``) into
``dwhassessment_*.avro`` files. This deployment has no ``spark-avro`` datasource on
the classpath and no network to fetch one, so this module implements the format
itself from the public Apache Avro 1.x specification (binary encoding + object
container files). It is deliberately dependency-free (stdlib ``zlib``/``struct``
only) and is cross-validated in tests against the real JVM ``org.apache.avro``
reader/writer that ships inside Spark's own classpath — true interop, not
self-consistency.

Scale design: the codec is the *per-file* serial path, exactly like the reference's
single-writer ``DataFileWriter``. Distribution comes from Spark — one writer task
per partition on write (``sink.py``) and one decode task per file on read
(``binaryFile`` source → ``readers.decode_avro_files``); rows cross between the JVM
and the codec as Arrow batches (``mapInArrow``) both ways. Python-side coding is
the honest cost of having no JVM datasource; it is file-parallel, and event files
are rollover-bounded (SRC4) so no single file is ever large.

Supported schema surface: everything QueryEvents needs plus the general cases —
null, boolean, int, long, float, double, bytes, string, enum, fixed, record,
array, map, unions, and the timestamp-millis / date logical types (QueryEvents.avsc
uses nullable unions, array<string>, and timestamp-millis — QueryEvents.avsc:5-286).
"""

from __future__ import annotations

import calendar
import datetime as dt
import io
import json
import os
import secrets
import string as _string
import struct
import zlib
from typing import Any, Iterable

from pyspark.sql import types as T

from ..config import DWH_ASSESSMENT_FILE_PREFIX

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
_EPOCH_DATE = dt.date(1970, 1, 1)
_ALNUM = _string.ascii_letters + _string.digits


def generate_logger_id(length: int = 10) -> str:
    """PRJ10 (utils/IdGenerator.java:22-30): random alphanumeric id, default 10 chars."""
    return "".join(secrets.choice(_ALNUM) for _ in range(length))


# --------------------------------------------------------------------------------------
# Spark StructType <-> avsc
# --------------------------------------------------------------------------------------

_PRIMITIVES: dict[type, str] = {
    T.StringType: "string",
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.ShortType: "int",
    T.ByteType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BinaryType: "bytes",
}


def _field_avsc(dtype: T.DataType, name: str, namespace: str) -> Any:
    for spark_t, avro_t in _PRIMITIVES.items():
        if isinstance(dtype, spark_t):
            return avro_t
    if isinstance(dtype, T.TimestampType):
        # timestamp-millis logical type, matching QueryEvents.avsc:85-106
        return {"type": "long", "logicalType": "timestamp-millis"}
    if isinstance(dtype, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dtype, T.ArrayType):
        return {"type": "array", "items": _nullable(dtype.elementType, dtype.containsNull, name + "_item", namespace)}
    if isinstance(dtype, T.MapType):
        return {"type": "map", "values": _nullable(dtype.valueType, dtype.valueContainsNull, name + "_value", namespace)}
    if isinstance(dtype, T.StructType):
        return struct_to_avsc(dtype, name=name.capitalize() + "Record", namespace=namespace)
    raise TypeError(f"unsupported Spark type for Avro: {dtype}")


def _nullable(dtype: T.DataType, nullable: bool, name: str, namespace: str) -> Any:
    inner = _field_avsc(dtype, name, namespace)
    return ["null", inner] if nullable else inner


def struct_to_avsc(
    schema: T.StructType, name: str = "QueryEvents", namespace: str = "query.events"
) -> dict:
    """Spark StructType -> avsc record dict. Nullability-first, like the reference:
    every nullable field becomes a ["null", T] union with default null, arrays
    default [] (QueryEvents.avsc — all 33 fields follow this shape; SURVEY §1.4)."""
    fields = []
    for f in schema.fields:
        avsc_type = _nullable(f.dataType, f.nullable, f.name, namespace)
        field: dict[str, Any] = {"name": f.name, "type": avsc_type}
        if f.nullable:
            field["default"] = None
        elif isinstance(f.dataType, T.ArrayType):
            field["default"] = []
        fields.append(field)
    return {"type": "record", "name": name, "namespace": namespace, "fields": fields}


def avsc_to_struct(avsc: Any) -> T.DataType:
    """avsc -> Spark type (SRC5 loader direction: schema files in, StructType out)."""
    named: dict[str, Any] = {}
    return _avsc_type(avsc, named)


def _avsc_type(a: Any, named: dict[str, Any]) -> T.DataType:
    if isinstance(a, str):
        prim = {
            "string": T.StringType(),
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "bytes": T.BinaryType(),
            "null": T.NullType(),
        }
        if a in prim:
            return prim[a]
        if a in named:  # named-type reference
            return named[a]
        raise TypeError(f"unknown avro type name: {a}")
    if isinstance(a, list):  # union: nullable T
        non_null = [b for b in a if b != "null"]
        if len(non_null) != 1:
            raise TypeError(f"only [null, T] unions map to Spark: {a}")
        return _avsc_type(non_null[0], named)
    t = a["type"]
    logical = a.get("logicalType")
    if logical == "timestamp-millis" and t == "long":
        return T.TimestampType()
    if logical == "date" and t == "int":
        return T.DateType()
    if t == "array":
        return T.ArrayType(_avsc_type(a["items"], named), containsNull=_union_nullable(a["items"]))
    if t == "map":
        return T.MapType(T.StringType(), _avsc_type(a["values"], named), valueContainsNull=_union_nullable(a["values"]))
    if t == "record":
        fields = [
            T.StructField(f["name"], _avsc_type(f["type"], named), nullable=_union_nullable(f["type"]))
            for f in a["fields"]
        ]
        st = T.StructType(fields)
        named[a["name"]] = st
        return st
    if t in ("enum", "fixed"):
        return T.StringType() if t == "enum" else T.BinaryType()
    return _avsc_type(t, named)  # {"type": "string"} wrapper form


def _union_nullable(a: Any) -> bool:
    return isinstance(a, list) and "null" in a


# --------------------------------------------------------------------------------------
# Binary encoding (Avro spec: zigzag varint longs, length-prefixed strings/bytes,
# block-encoded arrays/maps, branch-indexed unions)
# --------------------------------------------------------------------------------------


def _write_long(buf: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag (Python ints are arbitrary-precision; >> is arithmetic)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_long(buf: io.BufferedIOBase) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _to_millis(v: Any) -> int:
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return calendar.timegm(v.timetuple()) * 1000 + v.microsecond // 1000
    return int(v)


def _encode(buf: io.BytesIO, schema: Any, v: Any, named: dict[str, Any]) -> None:
    if isinstance(schema, str):
        s = schema
        if s == "null":
            return
        if s == "boolean":
            buf.write(b"\x01" if v else b"\x00")
        elif s in ("int", "long"):
            _write_long(buf, int(v))
        elif s == "float":
            buf.write(struct.pack("<f", float(v)))
        elif s == "double":
            buf.write(struct.pack("<d", float(v)))
        elif s == "string":
            raw = str(v).encode("utf-8")
            _write_long(buf, len(raw))
            buf.write(raw)
        elif s == "bytes":
            raw = bytes(v)
            _write_long(buf, len(raw))
            buf.write(raw)
        elif s in named:
            _encode(buf, named[s], v, named)
        else:
            raise TypeError(f"unknown type name {s!r}")
        return
    if isinstance(schema, list):  # union: pick first matching branch
        idx = _union_branch(schema, v)
        _write_long(buf, idx)
        _encode(buf, schema[idx], v, named)
        return
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "timestamp-millis":
        _write_long(buf, _to_millis(v))
    elif logical == "date":
        days = (v - _EPOCH_DATE).days if isinstance(v, dt.date) else int(v)
        _write_long(buf, days)
    elif t == "record":
        named[schema["name"]] = schema
        get = v.get if isinstance(v, dict) else lambda k, d=None: getattr(v, k, d)
        for f in schema["fields"]:
            _encode(buf, f["type"], get(f["name"], None), named)
    elif t == "array":
        items = list(v) if v is not None else []
        if items:
            _write_long(buf, len(items))
            for item in items:
                _encode(buf, schema["items"], item, named)
        _write_long(buf, 0)
    elif t == "map":
        entries = dict(v) if v is not None else {}
        if entries:
            _write_long(buf, len(entries))
            for k, val in entries.items():
                _encode(buf, "string", k, named)
                _encode(buf, schema["values"], val, named)
        _write_long(buf, 0)
    elif t == "enum":
        _write_long(buf, schema["symbols"].index(v))
    elif t == "fixed":
        named[schema["name"]] = schema
        buf.write(bytes(v))
    else:
        _encode(buf, t, v, named)  # {"type": "string"} wrapper form


def _union_branch(union: list, v: Any) -> int:
    if v is None:
        for i, b in enumerate(union):
            if b == "null":
                return i
        raise TypeError("null value but no null branch")
    for i, b in enumerate(union):
        if b != "null":
            return i  # [null, T] two-branch form — all the reference needs
    raise TypeError(f"no non-null branch in {union}")


def _decode(buf: io.BufferedIOBase, schema: Any, named: dict[str, Any]) -> Any:
    if isinstance(schema, str):
        s = schema
        if s == "null":
            return None
        if s == "boolean":
            return buf.read(1) == b"\x01"
        if s in ("int", "long"):
            return _read_long(buf)
        if s == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if s == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if s == "string":
            return buf.read(_read_long(buf)).decode("utf-8")
        if s == "bytes":
            return buf.read(_read_long(buf))
        if s in named:
            return _decode(buf, named[s], named)
        raise TypeError(f"unknown type name {s!r}")
    if isinstance(schema, list):
        idx = _read_long(buf)
        return _decode(buf, schema[idx], named)
    t = schema["type"]
    logical = schema.get("logicalType")
    if logical == "timestamp-millis":
        ms = _read_long(buf)
        return dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)
    if logical == "date":
        return _EPOCH_DATE + dt.timedelta(days=_read_long(buf))
    if t == "record":
        named[schema["name"]] = schema
        return {f["name"]: _decode(buf, f["type"], named) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (spec-permitted writer form)
                _read_long(buf)
                n = -n
            for _ in range(n):
                out.append(_decode(buf, schema["items"], named))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                _read_long(buf)
                n = -n
            for _ in range(n):
                k = _decode(buf, "string", named)
                out[k] = _decode(buf, schema["values"], named)
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "fixed":
        named[schema["name"]] = schema
        return buf.read(schema["size"])
    return _decode(buf, t, named)


# --------------------------------------------------------------------------------------
# Object Container Files
# --------------------------------------------------------------------------------------


class OcfWriter:
    """Append-mode Avro OCF writer over one file object — the Python counterpart of the
    reference's DataFileWriter usage (RecordsWriter.java:35-60: create, append, flush,
    close). ``flush()`` seals the current block and flushes the OS buffer, giving the
    same per-record durability the reference opts into
    (DatePartitionedRecordsWriterFactory.java:106-107)."""

    def __init__(self, fobj: io.BufferedIOBase, avsc: dict, codec: str = "null") -> None:
        if codec not in ("null", "deflate"):
            raise ValueError(f"unsupported codec {codec!r}")
        self._f = fobj
        self._avsc = avsc
        self._codec = codec
        self._sync = secrets.token_bytes(SYNC_SIZE)
        self._pending = io.BytesIO()
        self._pending_count = 0
        self._named: dict[str, Any] = {}
        header = io.BytesIO()
        header.write(MAGIC)
        meta = {
            "avro.schema": json.dumps(avsc, separators=(",", ":")).encode(),
            "avro.codec": codec.encode(),
        }
        _write_long(header, len(meta))
        for k, v in meta.items():
            _encode(header, "string", k, self._named)
            _encode(header, "bytes", v, self._named)
        _write_long(header, 0)
        header.write(self._sync)
        self._f.write(header.getvalue())

    def append(self, record: Any) -> None:
        _encode(self._pending, self._avsc, record, self._named)
        self._pending_count += 1

    def flush(self) -> None:
        if self._pending_count:
            data = self._pending.getvalue()
            if self._codec == "deflate":
                data = zlib.compress(data)[2:-4]  # raw RFC1951: strip zlib header+adler
            block = io.BytesIO()
            _write_long(block, self._pending_count)
            _write_long(block, len(data))
            block.write(data)
            block.write(self._sync)
            self._f.write(block.getvalue())
            self._pending = io.BytesIO()
            self._pending_count = 0
        self._f.flush()

    def close(self) -> None:
        self.flush()
        self._f.close()


def write_ocf(path: str, avsc: dict, records: Iterable[Any], codec: str = "null") -> int:
    """Write records to one OCF file; returns the record count."""
    n = 0
    with open(path, "wb") as f:
        w = OcfWriter(f, avsc, codec=codec)
        for r in records:
            w.append(r)
            n += 1
        w.flush()
    return n


def read_ocf_bytes(data: bytes) -> tuple[dict, list[dict]]:
    """Decode one OCF payload -> (writer avsc, records). Fail-fast on bad magic, like
    the reference's schema loader (AvroSchemaLoader.java:28-37)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    named: dict[str, Any] = {}
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            _read_long(buf)
            n = -n
        for _ in range(n):
            k = _decode(buf, "string", named)
            meta[k] = _decode(buf, "bytes", named)
    avsc = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf.read(SYNC_SIZE)
    records: list[dict] = []
    while True:
        try:
            count = _read_long(buf)
        except EOFError:
            break
        size = _read_long(buf)
        payload = buf.read(size)
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        block = io.BytesIO(payload)
        for _ in range(count):
            records.append(_decode(block, avsc, dict(named)))
        if buf.read(SYNC_SIZE) != sync:
            raise ValueError("sync marker mismatch (corrupt block boundary)")
    return avsc, records


def read_ocf(path: str) -> tuple[dict, list[dict]]:
    with open(path, "rb") as f:
        return read_ocf_bytes(f.read())


# --------------------------------------------------------------------------------------
# Clock + rolling date-partitioned writer (SRC3/SRC4 fidelity)
# --------------------------------------------------------------------------------------


class SystemClock:
    """UTC wall clock (the reference injects java.time.Clock; EventLogger.java:71-81)."""

    def instant(self) -> dt.datetime:
        return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


class TickableFixedClock:
    """Deterministic clock for rollover-boundary tests — the Python counterpart of the
    reference's hand-rolled test clock (DatePartitionedRecordsWriterFactoryTest.java:213-239)."""

    def __init__(self, start: dt.datetime) -> None:
        self._now = start

    def instant(self) -> dt.datetime:
        return self._now

    def tick(self, seconds: float = 0.0, **kwargs: float) -> None:
        self._now += dt.timedelta(seconds=seconds, **kwargs)

    def set(self, now: dt.datetime) -> None:
        self._now = now


def format_log_instant(instant: dt.datetime) -> str:
    """LOG_TIME_FORMAT (DatePartitionedRecordsWriterFactory.java:53-64): ISO date,
    'T', HHMMSS with no colons, fractional seconds only when nonzero, minimal digits."""
    base = instant.strftime("%Y-%m-%dT%H%M%S")
    if instant.microsecond:
        base += ("." + f"{instant.microsecond:06d}".rstrip("0"))
    return base


def ocf_file_name(instant: dt.datetime, logger_id: str, suffix: str = "") -> str:
    """``dwhassessment_<LOG_TIME_FORMAT instant>_<loggerId>.avro``, the reference's
    file name (DatePartitionedRecordsWriterFactory.java:208-214). ``suffix`` goes
    before ``.avro``; compaction adds ``_<n>`` so the files one run writes in the
    same instant do not collide."""
    return (
        f"{DWH_ASSESSMENT_FILE_PREFIX}{format_log_instant(instant)}_{logger_id}{suffix}.avro"
    )


class RollingOcfWriterFactory:
    """Date-partitioned, time-rolled OCF writer — the Spark-side twin of
    DatePartitionedRecordsWriterFactory.java:52-215 with the same observable contract:

    - one directory per UTC day, ISO_LOCAL_DATE named (:182-190, 204-206)
    - files named ``dwhassessment_<LOG_TIME_FORMAT instant>_<loggerId>.avro`` (:208-214)
    - rollover at ``min(now + interval truncated-to-minute, next UTC midnight)`` (:196-202)
    - lazy writer creation on first write after a rollover (:103-105)
    - close-and-reopen on write failure is the caller's retry policy (EventLogger.java:196-239);
      here a failed write surfaces the exception after closing (write:109-114).

    This is the writer of one long-lived logger process, which rolls over by clock.
    The Spark sink (sink.py) does not use it: each of its tasks is a logger instance
    that rolls over by record count, and both name files with ``ocf_file_name``.
    """

    def __init__(
        self,
        base_dir: str,
        avsc: dict,
        clock: Any = None,
        logger_id: str | None = None,
        rollover_interval_seconds: int = 3600,
        codec: str = "null",
    ) -> None:
        self.base_dir = base_dir
        self.avsc = avsc
        self.clock = clock or SystemClock()
        self.logger_id = logger_id or generate_logger_id()
        self.rollover_interval = dt.timedelta(seconds=rollover_interval_seconds)
        self.codec = codec
        os.makedirs(base_dir, exist_ok=True)
        self._writer: OcfWriter | None = None
        self._current_path: str | None = None
        self.rollover_time = self._next_rollover_time()

    def _next_rollover_time(self) -> dt.datetime:
        now = self.clock.instant()
        next_rollover = (now + self.rollover_interval).replace(second=0, microsecond=0)
        next_day = (now + dt.timedelta(days=1)).replace(
            hour=0, minute=0, second=0, microsecond=0
        )
        return min(next_rollover, next_day)

    def maybe_rollover(self) -> None:
        """Rollover-eligibility tick (EventLogger.java:112-121 → :117-133)."""
        if self.clock.instant() > self.rollover_time:
            self.close()
            self.rollover_time = self._next_rollover_time()

    def write(self, record: Any) -> None:
        self.maybe_rollover()
        if self._writer is None:
            date_dir = os.path.join(
                self.base_dir, self.clock.instant().date().isoformat()
            )
            os.makedirs(date_dir, exist_ok=True)
            self._current_path = os.path.join(
                date_dir, ocf_file_name(self.clock.instant(), self.logger_id)
            )
            self._writer = OcfWriter(
                open(self._current_path, "wb"), self.avsc, codec=self.codec
            )
        try:
            self._writer.append(record)
            self._writer.flush()  # flush-per-record durability (:106-107)
        except Exception:
            self.close()
            raise

    @property
    def current_path(self) -> str | None:
        return self._current_path if self._writer is not None else None

    def close(self) -> None:
        if self._writer is not None:
            self._writer.close()
        self._writer = None


def write_with_retries(
    factory: "RollingOcfWriterFactory",
    record: Any,
    max_retries: int = 2,
    sleep: Any = None,
) -> bool:
    """Reference retry policy (EventLogger.java:58,196-239): up to ``max_retries``
    retries with quadratic backoff (retry² seconds — 0 s, 1 s, 4 s), closing and
    reopening the writer between attempts (the factory's write already closes on
    failure, matching DatePartitionedRecordsWriterFactory.java:109-114). Returns
    True when written, False when all attempts failed (the reference logs and drops
    — at-most-once; callers wanting stronger semantics use the Spark sink path,
    which gets exactly-once from the commit protocol instead)."""
    import time as _time

    sleep = sleep or _time.sleep
    for retry in range(max_retries + 1):
        sleep(retry * retry)
        try:
            factory.write(record)
            return True
        except OSError:
            continue
    return False
