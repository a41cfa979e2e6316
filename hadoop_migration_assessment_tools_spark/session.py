"""SparkSession factory for the engine.

Required semantics (SURVEY §1.4):
- UTC everywhere (DatePartitionedRecordsWriterFactory.java:205,210 formats in UTC).
- AQE on: runtime re-planning, skew-join splitting, partition coalescing — our scale story
  leans on these at 100 TB (SURVEY §4.1).
- Arrow enabled: every pandas_udf / applyInPandas boundary is Arrow-batched.

Scale notes (local[32] test rig vs 1000-executor target):
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real cluster set it to
  ~2-3× total executor cores (AQE coalesces the excess, so err high).
- ``spark.sql.files.maxPartitionBytes`` 128m keeps scan tasks memory-bounded regardless of
  input size; at 100 TB that is ~800k scan tasks, which Spark schedules fine.
- broadcast threshold raised to 64m: region/nation/customer-sized dims must never shuffle.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

from .config import DEFAULT_CPUS

T = TypeVar("T")


def get_spark(
    app_name: str = "hadoop-migration-assessment-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession with required configs applied."""
    master = master or os.environ.get("SPARK_MASTER", f"local[{DEFAULT_CPUS}]")
    cores = DEFAULT_CPUS
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    conf = {
        # Correctness-critical (SURVEY §1.4: UTC everywhere).
        "spark.sql.session.timeZone": "UTC",
        # Scale-critical: adaptive execution re-plans joins/partitions at runtime.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE coalescing floor (r13 optimization, guide §2.2/§2.5). The default
        # 1m floor caps a small shuffle's post-coalesce parallelism at
        # totalBytes/1m partitions — measured 1-6 tasks on this corpus's 1-6 MB
        # shuffles while the CPU-heavy work hanging off them (shingle explodes,
        # posting joins, pair verification) left 26+ cores idle. 256k keeps
        # parallelismFirst's totalBytes/defaultParallelism target in charge down
        # to 256 KB/task (A/B min-of-3: -23% on the affected set, no query
        # slower). Scale-neutral by construction: the floor only binds when
        # bytes/parallelism < 256k — at production shuffle sizes the coalesce
        # target is unchanged. Env-overridable for cluster tuning.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
            "SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "256k"
        ),
        # Shuffle width: 2×cores locally; AQE coalesces down when partitions are small.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(32, 2 * cores)),
        # Arrow for every Python<->JVM columnar boundary (pandas_udf, toPandas).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dimension tables (region/nation/supplier/customer at our SFs) broadcast.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Bound scan-task size irrespective of total input volume.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.host": "127.0.0.1",
        # r14 optimization (guide §1.2 step 1 via §7.2 plan reading):
        # InferFiltersFromGenerate turns every non-outer explode(expr) into an
        # inferred `size(expr) > 0 AND isnotnull(expr)` filter, and predicate
        # pushdown then SUBSTITUTES expr all the way down to the scan. For this
        # engine's HOF-built arrays (zip_with shingle chains, tagged band
        # arrays, CDC windows) that plants a copy of the whole tokenize+shingle
        # expression tree in the scan stage as a DataFilter, evaluated per row
        # and discarded — measured 12.2 s -> 4.9 s on
        # docs_training_prep_pipeline and -10% on the minhash/jaccard family
        # (interleaved same-session A/B, r14). The rule's upside (skipping
        # empty-array rows early) is a no-op here: the explode drops them
        # anyway, one operator later. Results are plan-identical in content;
        # env-overridable for workloads whose generates feed from stored
        # columns where the inferred filter is cheap and selective.
        "spark.sql.optimizer.excludedRules": os.environ.get(
            "SPARK_GRAFT_EXCLUDED_RULES",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
        # JIT code-cache headroom (r13 optimization). A long mixed session
        # generates thousands of codegen classes; at the JVM default
        # (ReservedCodeCacheSize=240m) the code cache fills mid-suite, C2
        # compilation stops, and hot generated code runs interpreted — the
        # documented "aged session" phantom slowdowns (BASELINE.md r9-r12
        # history; measured this round: the same shingle+hash stage cost
        # 8x more task-time late in a session than fresh). 512m keeps
        # compiled code resident across the whole registry. Only applies
        # when this call launches the JVM (bench, tools, tests — all do).
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize="
        + os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m"),
        # Generated-class cache. Spark caches compiled whole-stage code by
        # source text, 100 entries by default; one assessment report (dedup,
        # correlate, three rollups, table frequency) cycles through more
        # distinct sources than that, so lookups missed and each repeated
        # report recompiled and reloaded its classes (measured on 4 cores:
        # 61-120 new classes and 6-10 s of JIT time per ~3.5 s report). 2000
        # is well above that working set; an entry is one loaded class. Static
        # conf, read when the JVM first generates code: like the entry above,
        # it only applies when this call launches the JVM.
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
    if extra_conf:
        conf.update(extra_conf)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def per_session(spark: SparkSession, build: Callable[[], T]) -> T:
    """``build()``, called once per SparkSession and then reused.

    For an operator's expression trees, which depend only on column names, never on
    the data. Building one in PySpark costs Py4J round trips (thousands for the
    event projections); a reused Column is converted to Catalyst afresh on every
    use, so it follows the session's current conf (e.g. ``spark.sql.ansi.enabled``)
    and gets new alias exprIds each time. The cache lives on the session object,
    so a stopped session's JVM objects die with it and ``spark.newSession()``
    builds its own. There is no lock: threads
    that race on a first call each build, and any one result serves as well as
    another."""
    cache = getattr(spark, "_engine_per_session", None)
    if cache is None:
        cache = spark._engine_per_session = {}
    if build not in cache:
        cache[build] = build()
    return cache[build]
