"""The benchmark workloads: set-up, one pass, and the independent output check.

Each workload prepares its inputs with the seeded generators in gen.py, then runs
passes. A pass calls only the engine's public functions and returns the collected
result; ``check`` compares that result with the generator's own tallies and returns
a list of mismatches (empty when the output is correct).
"""

from __future__ import annotations

import collections
import datetime as dt
import io
import json
import math
import os
import statistics
import time

from pyspark.sql import functions as F

from hadoop_migration_assessment_tools_spark.ext.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    minhash_near_dup_pairs,
    two_band_decontaminate,
)
from hadoop_migration_assessment_tools_spark.ext.text import chunk_documents
from hadoop_migration_assessment_tools_spark.operators.correlate import (
    correlate_submit_complete,
    deduplicate_events,
    query_log_rollups,
    table_access_frequency,
)
from hadoop_migration_assessment_tools_spark.operators.events import construct_events
from hadoop_migration_assessment_tools_spark.schema import HOOK_INPUT_SCHEMA
from hadoop_migration_assessment_tools_spark.sources.avro_ocf import OcfWriter, read_ocf_bytes
from hadoop_migration_assessment_tools_spark.sources.readers import read_event_log
from hadoop_migration_assessment_tools_spark.sources.sink import DatePartitionedSink
from hadoop_migration_assessment_tools_spark.streaming import (
    pair_submit_complete_stream,
    read_event_stream,
)

import gen
from spans import NullTracer

# Input sizes at --scale 1. Fixed per-job and per-stage costs dominate at these
# sizes: a pass takes 2.5-5 s on 4 cores, and halving an input saves little, so
# each is as large as the run budget allows.
ASSESS_QUERIES = 10_000
INGEST_QUERIES = 4_000
CORPUS_DOCS = 2_000
HOOK_FILES = 8  # capturing HiveServer2 hosts, one hook-input file each
PARQUET_ROLLOVER = 500  # records per log file: a few hundred files over 7 days
AVRO_ROLLOVER = 500
STREAM_BATCHES = 2  # micro-batches the stored log is tailed in
STREAM_WATERMARK = "2 days"  # files arrive day by day; see order_files_by_day


def tree_stats(path: str, suffix: str) -> tuple[int, int, int]:
    """(data files, day directories, bytes) of a log tree."""
    files, days, size = 0, set(), 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                days.add(root)
                size += os.path.getsize(os.path.join(root, n))
    return files, len(days), size


class Workload:
    """One workload: `prepare` is one set-up repetition, `run_pass` one pass."""

    name = ""
    min_passes = 2  # timed passes per run, however short --seconds is
    # Untimed passes after set-up. The JIT is still compiling for the first ten or
    # more passes (several seconds of compile time a pass, on the cores the tasks
    # use), so passes keep getting faster; this is as many as the run budget allows.
    warmup_passes = 2

    def __init__(self, spark, seed: int, scale: float) -> None:
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.items = 0  # input events (documents for corpus) one pass processes
        self.properties: dict = {}

    def prepare(self, tracer, out_dir: str) -> None:
        raise NotImplementedError

    def run_pass(self, tracer, pass_dir: str):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def layer_metrics(self, result) -> dict[str, float]:
        """Per-layer counts taken outside the timed spans (traced run only)."""
        return {}

    def side_pass(self, tracer, pass_dir: str) -> tuple[list[str], dict[str, float]]:
        """Traced run only: a checked pass through a layer this workload's own
        passes do not reach. Returns (check failures, per-layer metrics)."""
        return [], {}


def _size(n: int, scale: float) -> int:
    return max(200, int(n * scale))


# ---------------------------------------------------------------------------
# assess: the batch migration-assessment report over a stored parquet log
# ---------------------------------------------------------------------------


class Assess(Workload):
    name = "assess"
    warmup_passes = 3

    def prepare(self, tracer, out_dir: str) -> None:
        hook_dir, self.tree = os.path.join(out_dir, "hook"), os.path.join(out_dir, "log")
        self.tallies = gen.generate_query_log(self.seed, _size(ASSESS_QUERIES, self.scale), HOOK_FILES, hook_dir)
        tracer.count("events.rows_in", self.tallies["rows_in"])
        raw = self.spark.read.schema(HOOK_INPUT_SCHEMA).parquet(hook_dir)
        with tracer.span("events.construct"):
            events = tracer.materialize(construct_events(raw), "events.rows_out")
        with tracer.span("sink.write"):
            DatePartitionedSink(self.tree, fmt="parquet", rollover_records=PARQUET_ROLLOVER).write_batch(events)
        tracer.end_pass()
        self.items = sum(self.tallies["events"].values())
        self.properties = self.tallies["properties"]
        files, days, size = tree_stats(self.tree, ".parquet")
        self.properties.update(log_files=files, log_day_dirs=days, log_bytes=size)

    def run_pass(self, t, pass_dir: str):
        with t.span("readers.read"):
            log = t.materialize(read_event_log(self.spark, self.tree), "readers.rows")
        with t.span("correlate.dedup"):
            ded = t.materialize(deduplicate_events(log), "correlate.dedup_rows")
        with t.span("correlate.join"):
            cor = t.materialize(correlate_submit_complete(ded), "correlate.joined_rows")
        with t.span("correlate.rollup"):
            users = query_log_rollups(cor, "RequestUser").collect()
            queues = query_log_rollups(cor, "Queue", "ExecutionMode").collect()
            by_day = cor.withColumn("EventDate", F.to_date("StartTime"))
            days = query_log_rollups(by_day, "EventDate", "Status").collect()
        with t.span("correlate.table_freq"):
            tables = table_access_frequency(ded).collect()
        return {"users": users, "queues": queues, "days": days, "tables": tables}

    def check(self, r) -> list[str]:
        tal, errs = self.tallies, []
        if len(r["users"]) != len(tal["per_user"]):
            errs.append(f"users: {len(r['users'])} rows, expected {len(tal['per_user'])}")
        for row in r["users"]:
            q, failed, orphans, dur_sum, dur_max = tal["per_user"].get(row.RequestUser, (0, 0, 0, 0, -1))
            done = q - orphans
            avg = dur_sum / done if done else None
            if (row.query_count, row.failed_count) != (q, failed):
                errs.append(f"user {row.RequestUser}: counts {row.query_count}/{row.failed_count}, expected {q}/{failed}")
            if row.max_duration_ms != (dur_max if done else None):
                errs.append(f"user {row.RequestUser}: max duration {row.max_duration_ms}, expected {dur_max}")
            if (row.avg_duration_ms is None) != (avg is None) or (
                avg is not None and abs(row.avg_duration_ms - avg) > 1e-3
            ):
                errs.append(f"user {row.RequestUser}: avg duration {row.avg_duration_ms}, expected {avg}")
        got = {(row.Queue, row.ExecutionMode): (row.query_count, row.failed_count) for row in r["queues"]}
        if got != tal["per_queue_mode"]:
            errs.append("(Queue, ExecutionMode) rollup differs")
        got = {(row.EventDate.isoformat(), row.Status): row.query_count for row in r["days"]}
        if got != tal["per_day_status"]:
            errs.append("(EventDate, Status) rollup (orphans per day) differs")
        got = {row.table_name: (row.read_count, row.write_count) for row in r["tables"]}
        if got != tal["tables"]:
            errs.append("table read/write counts differ")
        ranked = sorted(r["tables"], key=lambda row: row.hot_rank)
        if [row.hot_rank for row in ranked] != list(range(1, len(ranked) + 1)) or ranked != sorted(
            ranked, key=lambda row: (-row.total_count, row.table_name)
        ):
            errs.append("hot_rank is not the (total desc, name asc) order")
        return errs

    def stored_bytes(self) -> int:
        return self.properties["log_bytes"]

    def layer_metrics(self, r) -> dict[str, float]:
        orphans = sum(row.query_count for row in r["days"] if row.Status is None)
        files, _, size = tree_stats(self.tree, ".parquet")
        return {
            "readers.files": files,
            "readers.bytes": size,
            "correlate.orphans": orphans,
            "correlate.pairs": sum(row.query_count for row in r["days"]) - orphans,
            "correlate.tables": len(r["tables"]),
            "correlate.table_refs": sum(row.total_count for row in r["tables"]),
        }

    def side_pass(self, t, pass_dir: str) -> tuple[list[str], dict[str, float]]:
        with t.span("streaming.pair"):
            rows, progress = stream_pairs(self.spark, self.tree, pass_dir)
        got, want = collections.Counter(tuple(row) for row in rows), collections.Counter(self.tallies["pairs"])
        errs = []
        if got != want:
            errs.append(
                f"stream pairs: {sum(got.values())} rows, expected {sum(want.values())}; "
                f"{sum((want - got).values())} missing, {sum((got - want).values())} unexpected"
            )
        return errs, stream_metrics(progress)


# ---------------------------------------------------------------------------
# The streaming layer: assess's stored log, tailed as a file stream and paired
# in-stream. A stream pass costs ~15 s of fixed per-micro-batch state-store work
# on 4 cores, too long for a workload of its own within the run budget, so it is
# the side pass of assess's traced run (see README.md).
# ---------------------------------------------------------------------------


def order_files_by_day(tree: str) -> None:
    """Give the log files modification times in day order, as a log written over
    several days has: the file source tails files in modification-time order, and
    the set-up wrote every day at once."""
    base = time.time() - 86_400
    day0 = gen.LOG_START.date()
    for root, _, names in os.walk(tree):
        day = os.path.basename(root).partition("=")[2]
        if not day:
            continue
        offset = (dt.date.fromisoformat(day) - day0).days * 3600
        for k, n in enumerate(sorted(names)):
            os.utime(os.path.join(root, n), (base + offset + k, base + offset + k))


def stream_pairs(spark, tree: str, pass_dir: str) -> tuple[list, list[dict]]:
    """Tail the stored log as a file stream, pair it in-stream, and return the
    matched (QueryId, DurationMillis, Status) rows and the progress reports."""
    order_files_by_day(tree)
    files = tree_stats(tree, ".parquet")[0]
    events = read_event_stream(spark, tree, max_files_per_trigger=math.ceil(files / STREAM_BATCHES))
    pairs = pair_submit_complete_stream(events, watermark=STREAM_WATERMARK, dedup=True)
    query = (
        pairs.writeStream.format("memory")
        .queryName("stream_pairs")
        .option("checkpointLocation", os.path.join(pass_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        query.stop()
    rows = spark.sql("SELECT QueryId, DurationMillis, Status FROM stream_pairs WHERE EndTime IS NOT NULL").collect()
    spark.catalog.dropTempView("stream_pairs")
    return rows, [json.loads(p.json) for p in query.recentProgress]


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """The streaming layer's metrics, from the query's progress reports."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    durations = [p["durationMs"]["triggerExecution"] / 1000 for p in batches]
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": statistics.median(durations) if durations else 0.0,
        "streaming.input_rows_per_s": sum(p["numInputRows"] for p in batches) / sum(durations) if durations else 0.0,
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "streaming.state_commit_s": sum(
            op.get("commitTimeMs", 0) for p in progress for op in p.get("stateOperators", [])
        ) / 1000,
    }


# ---------------------------------------------------------------------------
# ingest: construct events from hook input and capture them as an Avro log
# ---------------------------------------------------------------------------


class Ingest(Workload):
    name = "ingest"
    warmup_passes = 3

    def prepare(self, tracer, out_dir: str) -> None:
        self.hook_dir = os.path.join(out_dir, "hook")
        self.tallies = gen.generate_query_log(self.seed, _size(INGEST_QUERIES, self.scale), HOOK_FILES, self.hook_dir)
        self.items = sum(self.tallies["events"].values())
        self.properties = self.tallies["properties"]
        self.last_tree = None

    def run_pass(self, t, pass_dir: str):
        tree = os.path.join(pass_dir, "avro")
        raw = self.spark.read.schema(HOOK_INPUT_SCHEMA).parquet(self.hook_dir)
        t.count("events.rows_in", self.tallies["rows_in"])
        with t.span("events.construct"):
            events = t.materialize(construct_events(raw), "events.rows_out")
        with t.span("sink.write"):
            DatePartitionedSink(tree, fmt="avro", rollover_records=AVRO_ROLLOVER).write_batch(events)
        with t.span("readers.read"):
            back = t.materialize(read_event_log(self.spark, tree, fmt="avro"), "readers.rows")
            rows = back.select(
                "QueryId", "EventType", "Status", "ExecutionMode",
                F.unix_millis("StartTime"), F.unix_millis("EndTime"),
            ).collect()
        self.last_tree = tree
        return {"rows": rows, "tree": tree}

    def check(self, r) -> list[str]:
        tal, errs = self.tallies, []
        dropped = tal["rows_in"] - len(r["rows"])
        expected_drop = tal["properties"]["null_plan_rows"] + tal["properties"]["unknown_hook_rows"]
        if dropped != expected_drop:
            errs.append(f"FLT4/FLT5 dropped {dropped} hook rows, expected {expected_drop}")
        modes = collections.Counter(row[3] for row in r["rows"] if row[1] == "QUERY_SUBMITTED")
        if modes != tal["submit_modes"]:
            errs.append(f"execution modes {dict(modes)}, expected {tal['submit_modes']}")
        if collections.Counter(tuple(row) for row in r["rows"]) != tal["events"]:
            errs.append(f"read-back events differ from the constructed events ({len(r['rows'])} rows)")
        return errs

    def stored_bytes(self) -> int:
        return tree_stats(self.last_tree, ".avro")[2]

    def side_pass(self, t, pass_dir: str) -> tuple[list[str], dict[str, float]]:
        """The ext/ layer: an untimed warm-up and a traced corpus pass, both checked."""
        corpus = Corpus(self.spark, self.seed, self.scale)
        corpus.prepare(t, os.path.join(pass_dir, "corpus"))
        errs = corpus.check(corpus.run_pass(NullTracer(), pass_dir))
        result = corpus.run_pass(t, pass_dir)
        return errs + corpus.check(result), corpus.layer_metrics(result)

    def layer_metrics(self, r) -> dict[str, float]:
        files, days, size = tree_stats(r["tree"], ".avro")
        # The Avro codec on this pass's own files, in the driver: whole files until a
        # few thousand records are in hand, decoded and then encoded again.
        blobs, records, avsc = [], [], None
        for root, _, names in os.walk(r["tree"]):
            for n in sorted(names):
                if n.endswith(".avro") and len(records) < 3000:
                    with open(os.path.join(root, n), "rb") as f:
                        blobs.append(f.read())
                    avsc, recs = read_ocf_bytes(blobs[-1])
                    records.extend(recs)
        t0 = time.perf_counter()
        decoded = sum(len(read_ocf_bytes(b)[1]) for b in blobs)
        t1 = time.perf_counter()
        writer = OcfWriter(io.BytesIO(), avsc, codec="deflate")
        for rec in records:
            writer.append(rec)
        writer.flush()
        t2 = time.perf_counter()
        return {
            "sink.files": files,
            "sink.day_dirs": days,
            "sink.bytes": size,
            "readers.files": files,
            "readers.bytes": size,
            "avro_ocf.decode_records_per_s": decoded / (t1 - t0),
            "avro_ocf.encode_records_per_s": len(records) / (t2 - t1),
        }


# ---------------------------------------------------------------------------
# corpus: LLM-data preparation over a documents table. A pass takes ~6 s after a
# ~16 s first pass on 4 cores, too few passes a run to be steady beside assess and
# ingest within the run budget, so it is the side pass of ingest's traced run and
# stays runnable on its own with --workload corpus (see README.md).
# ---------------------------------------------------------------------------

NEAR_DUP_THRESHOLD = 0.7  # minhash_near_dup_pairs default
CHUNK_TOKENS, CHUNK_OVERLAP = 512, 64  # chunk_documents defaults


def expected_chunks(tokens_by_id: dict[int, list[str]], kept: set[int]) -> collections.Counter:
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    out = collections.Counter()
    for doc in kept:
        n = len(tokens_by_id[doc])
        chunks = 1 if n <= CHUNK_TOKENS else math.ceil((n - CHUNK_TOKENS) / stride) + 1
        for i in range(chunks):
            out[(doc, i, min(CHUNK_TOKENS, n - i * stride))] += 1
    return out


class Corpus(Workload):
    name = "corpus"

    def prepare(self, tracer, out_dir: str) -> None:
        self.dir = out_dir
        self.tallies = tal = gen.generate_corpus(self.seed, _size(CORPUS_DOCS, self.scale), out_dir)
        self.kept = set(tal["tokens_by_id"]) - tal["exact_dropped"]
        self.chunks = expected_chunks(tal["tokens_by_id"], self.kept)
        self.eval_long = set().union(*(gen.shingles(t, 13) for t in tal["eval_tokens"]))
        self.eval_short = set().union(*(gen.shingles(t, 8) for t in tal["eval_tokens"]))
        self.items = len(tal["tokens_by_id"])
        self.properties = tal["properties"]

    def run_pass(self, t, pass_dir: str):
        docs = self.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        evals = self.spark.read.parquet(os.path.join(self.dir, "eval.parquet"))
        with t.span("ext.exact_dedup"):
            ded = t.materialize(exact_dedup(docs), "ext.kept_docs")
            kept = [row.doc_id for row in ded.select("doc_id").collect()]
        with t.span("ext.decon"):
            decon = two_band_decontaminate(ded, evals)
            flagged = [row.doc_id for row in decon.filter("flagged").select("doc_id").collect()]
        with t.span("ext.minhash"):
            pairs = [tuple(row) for row in minhash_near_dup_pairs(ded, threshold=NEAR_DUP_THRESHOLD).collect()]
        with t.span("ext.chunk"):
            chunks = chunk_documents(ded).select("doc_id", "chunk_idx", "chunk_tokens").collect()
        return {"kept": kept, "flagged": flagged, "pairs": pairs, "chunks": chunks, "ded": ded}

    def _contaminated(self, doc: int) -> bool:
        """The two-band rule recomputed in Python (13-gram hit, or >= 30% of 8-grams)."""
        toks = self.tallies["tokens_by_id"][doc]
        short = gen.shingles(toks, 8)
        return bool(gen.shingles(toks, 13) & self.eval_long) or (
            bool(short) and round(len(short & self.eval_short) / len(short), 6) >= 0.3
        )

    def check(self, r) -> list[str]:
        tal, errs = self.tallies, []
        if len(r["kept"]) != len(set(r["kept"])) or set(r["kept"]) != self.kept:
            errs.append(f"exact_dedup kept {len(r['kept'])} docs, expected {len(self.kept)}")
        flagged = set(r["flagged"])
        if not tal["contaminated"] <= flagged:
            errs.append(f"{len(tal['contaminated'] - flagged)} planted contaminated docs not flagged")
        errs += [f"doc {d} flagged without eval overlap" for d in flagged - tal["contaminated"] if not self._contaminated(d)]
        found = {(min(a, b), max(a, b)) for a, b, _ in r["pairs"]}
        if not tal["near_pairs"] <= found:
            errs.append(f"{len(tal['near_pairs'] - found)} planted near-duplicate pairs not found")
        toks = tal["tokens_by_id"]
        for a, b, jac in r["pairs"]:
            exact = gen.jaccard(toks[a], toks[b])
            if exact < NEAR_DUP_THRESHOLD or abs(exact - jac) > 1e-6:
                errs.append(f"pair ({a}, {b}): reported Jaccard {jac}, recomputed {exact}")
        if collections.Counter(tuple(row) for row in r["chunks"]) != self.chunks:
            errs.append(f"chunks differ: {len(r['chunks'])} rows, expected {sum(self.chunks.values())}")
        return errs

    def stored_bytes(self) -> int:
        return os.path.getsize(os.path.join(self.dir, "documents.parquet"))

    def layer_metrics(self, r) -> dict[str, float]:
        candidates = minhash_candidate_pairs(r["ded"]).count()
        return {
            "ext.decon_flagged": len(r["flagged"]),
            "ext.lsh_candidates": candidates,
            "ext.verified_pairs": len(r["pairs"]),
            "ext.verify_yield": len(r["pairs"]) / candidates if candidates else 0.0,
            "ext.chunks": len(r["chunks"]),
        }


WORKLOADS = {w.name: w for w in (Assess, Ingest, Corpus)}
