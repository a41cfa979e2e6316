"""Aged-session accumulator hunt (VERDICT r13 #4).

Ages one session by running the registry in bench order and, every
``--every`` queries, re-times a fixed PROBE set and samples the JVM:
code-heap / metaspace / heap pools, BlockManager storage (localCheckpoint
blocks live there until the driver GCs the owning DataFrame), and the
status-store job/stage retention. The output is the drift curve plus the
matching accumulation curves — whichever metric grows with the drift names
the mechanism.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/age_probe.py \
        [--every 30] [--probes docs_fingerprints,docs_two_band_decon,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_migration_assessment_tools_spark.config import DEFAULT_CPUS, DEFAULT_SF_DIR
from hadoop_migration_assessment_tools_spark.queries.registry import QUERIES
from hadoop_migration_assessment_tools_spark.session import get_spark

PROBES = [
    "docs_fingerprints",
    "docs_two_band_decon",
    "docs_contamination_ratio",
    "emb_residual_pq_rerank_topk",
    "events_sliding_cms_types",
]


def jvm_metrics(spark) -> dict:
    jvm = spark.sparkContext._jvm
    out: dict[str, float] = {}
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        p = pools.get(i)
        name = p.getName()
        if "CodeHeap" in name or "Metaspace" in name:
            out[name.replace(" ", "_")] = round(p.getUsage().getUsed() / 1e6, 1)
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    out["heap_used_mb"] = round(mem.getHeapMemoryUsage().getUsed() / 1e6, 1)
    gc = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    t = 0
    for i in range(gc.size()):
        t += gc.get(i).getCollectionTime()
    out["gc_ms_total"] = t
    sc = spark.sparkContext
    status = sc._jsc.sc().getExecutorMemoryStatus()
    out["n_block_managers"] = status.size()
    # storage: blocks pinned by localCheckpoints whose frames are not yet GC'd
    rdd_infos = sc._jsc.sc().getRDDStorageInfo()
    out["n_cached_rdds"] = len(rdd_infos)
    out["cached_mem_mb"] = round(sum(r.memSize() for r in rdd_infos) / 1e6, 1)
    tracker = sc._jsc.sc().statusTracker()
    out["n_active_jobs"] = len(tracker.getActiveJobIds())
    try:
        store = spark._jsparkSession.sharedState().statusStore()
        empty = jvm.java.util.ArrayList()
        out["store_jobs"] = store.jobsList(empty).size()
        out["store_stages"] = store.stageList(empty).size()
    except Exception:
        pass  # status-store API surface differs across versions; optional
    return out


def main() -> None:
    argv = sys.argv[1:]
    every = 30
    if "--every" in argv:
        every = int(argv[argv.index("--every") + 1])
    probes = PROBES
    if "--probes" in argv:
        probes = [p for p in argv[argv.index("--probes") + 1].split(",") if p]
        unknown = [p for p in probes if p not in QUERIES]
        if unknown:
            sys.exit(f"unknown --probes queries: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark(app_name="age-probe", master=f"local[{DEFAULT_CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()

    def probe(tag: str) -> None:
        times = {}
        for name in probes:
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            times[name] = round(time.perf_counter() - t0, 3)
        print(
            json.dumps({"at": tag, "probe_s": times, "jvm": jvm_metrics(spark)}),
            flush=True,
        )

    probe("fresh")
    names = list(QUERIES)
    for i, name in enumerate(names):
        try:
            QUERIES[name](spark, sf_dir).count()
        except Exception as e:  # age regardless
            print(f"age error {name}: {e}", file=sys.stderr)
        if (i + 1) % every == 0:
            probe(f"after_{i + 1}")
    probe("aged_full")
    spark.stop()


if __name__ == "__main__":
    main()
