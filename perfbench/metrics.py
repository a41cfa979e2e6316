"""Metric names, units and directions; BENCHMARK.json at the repository root lists the same.

End-to-end metrics come from untraced runs (``--trace 0``); per-layer metrics from
traced runs (``--trace 1``). A per-layer metric a workload does not exercise reads 0.
"""

from __future__ import annotations

# Pass times vary by 10-15% between JVM instances on a shared 4-core machine (JIT
# timing, neighbour load), and a run has one JVM, so the time and memory bounds are
# the widest allowed; stored bytes vary only with the seed.
# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("wall_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("stored_bytes_per_event", "B", "lower", 0.05),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

#: Span name -> the per-layer time metric that is its median self time.
SPAN_TIMES = {
    "readers.read": "readers.read_s",
    "correlate.dedup": "correlate.dedup_s",
    "correlate.join": "correlate.join_s",
    "correlate.rollup": "correlate.rollup_s",
    "correlate.table_freq": "correlate.table_freq_s",
    "events.construct": "events.construct_s",
    "sink.write": "sink.write_s",
    "streaming.pair": "streaming.query_s",
    "ext.exact_dedup": "ext.exact_dedup_s",
    "ext.decon": "ext.decon_s",
    "ext.minhash": "ext.minhash_s",
    "ext.chunk": "ext.chunk_s",
}

#: Spark engine counters taken from the event log for every span above.
ENGINE_COUNTERS = [
    ("tasks", "count", "lower"),
    ("shuffle_write_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("serial_stage_s", "s", "lower"),
]

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("readers.read_s", "s", "lower"),
    ("readers.rows", "count", "higher"),
    ("readers.files", "count", "lower"),
    ("readers.bytes", "B", "lower"),
    ("correlate.dedup_s", "s", "lower"),
    ("correlate.dup_rows_dropped", "count", "higher"),
    ("correlate.join_s", "s", "lower"),
    ("correlate.pairs", "count", "higher"),
    ("correlate.orphans", "count", "lower"),
    ("correlate.rollup_s", "s", "lower"),
    ("correlate.table_freq_s", "s", "lower"),
    ("correlate.table_refs", "count", "higher"),
    ("correlate.tables", "count", "higher"),
    ("events.construct_s", "s", "lower"),
    ("events.rows_in", "count", "higher"),
    ("events.rows_out", "count", "higher"),
    ("sink.write_s", "s", "lower"),
    ("sink.files", "count", "lower"),
    ("sink.day_dirs", "count", "lower"),
    ("sink.bytes", "B", "lower"),
    ("avro_ocf.encode_records_per_s", "1/s", "higher"),
    ("avro_ocf.decode_records_per_s", "1/s", "higher"),
    ("streaming.query_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_p50_s", "s", "lower"),
    ("streaming.input_rows_per_s", "1/s", "higher"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_commit_s", "s", "lower"),
    ("ext.exact_dedup_s", "s", "lower"),
    ("ext.decon_s", "s", "lower"),
    ("ext.decon_flagged", "count", "higher"),
    ("ext.minhash_s", "s", "lower"),
    ("ext.lsh_candidates", "count", "lower"),
    ("ext.verified_pairs", "count", "higher"),
    ("ext.verify_yield", "1", "higher"),
    ("ext.chunk_s", "s", "lower"),
    ("ext.chunks", "count", "higher"),
    ("trace.pass_s", "s", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("pass.self_s", "s", "lower"),
    ("jvm.jit_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.classes_loaded", "count", "lower"),
] + [
    (f"{span}.{counter}", unit, better)
    for span in SPAN_TIMES
    for counter, unit, better in ENGINE_COUNTERS
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}
