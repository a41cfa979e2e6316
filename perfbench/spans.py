"""Outside-in measurement helpers: layer spans, Spark event-log counters, process-tree RSS.

Spans are recorded by the benchmark around its calls into the engine's public
functions; nothing inside the engine is instrumented. Spark is lazy, so in a traced
pass each layer's output is persisted and counted inside its own span
(``Tracer.materialize``); an untraced pass uses ``NullTracer``, whose spans and
materialize calls do nothing, so both run the same code.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time


class NullTracer:
    """The untraced pass: no spans, no persisting, no extra Spark jobs."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def materialize(self, df, count_name: str):
        return df

    def count(self, name: str, value: float) -> None:
        pass

    def end_pass(self) -> None:
        pass


class Tracer(NullTracer):
    """Records spans (name, start, end, parent, pass id) and counts in memory.

    Each span sets the Spark job description to ``<name>#<span id>`` so the event
    log can attribute jobs to it; jobs started by other threads (streaming
    micro-batches) are attributed by time instead."""

    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self.pass_id = "setup"
        self._stack: list[int] = []
        self._cached: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "pass": self.pass_id, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"{name}#{sid}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self.spans[self._stack[-1]] if self._stack else None
            self.sc.setJobDescription(f"{outer['name']}#{outer['id']}" if outer else None)

    def materialize(self, df, count_name: str):
        df = df.persist()
        self.count(count_name, df.count())
        self._cached.append(df)
        return df

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    def end_pass(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self time of each of its spans (duration minus the part of
        that interval its child spans cover)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Read the (uncompressed) event log of the one application in `log_dir`.

    Returns (jobs, stages): jobs carry description, submission time (s) and stage
    ids; stages carry their task count and per-task sums of run time, shuffle bytes
    written and bytes spilled (memory + disk). tools/profile_stages.py has a parser
    keyed by job description alone, without spill bytes or per-job submission
    times, which the micro-batch jobs of the streaming pass are attributed by."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    paths = sorted(
        os.path.join(root, n) for root, _, names in os.walk(log_dir) for n in names if not n.startswith("appstatus")
    )  # Spark 4 writes a rolling log: a directory of event files plus a status marker
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                            "t": ev.get("Submission Time", 0) / 1000.0,
                            "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    st = stages.setdefault(
                        ev["Stage ID"], {"tasks": 0, "run_s": 0.0, "shuffle_write": 0, "spill": 0}
                    )
                    st["tasks"] += 1
                    st["run_s"] += (tm.get("Executor Run Time") or 0) / 1000.0
                    st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += (tm.get("Memory Bytes Spilled") or 0) + (tm.get("Disk Bytes Spilled") or 0)
    return jobs, stages


def engine_counters(tracer: Tracer, log_dir: str, cores: int) -> dict[str, dict[str, float]]:
    """Span name -> mean per span instance of tasks, shuffle bytes written, bytes
    spilled and serial-stage seconds (task run time in stages with fewer tasks
    than cores). A job belongs to the span named in its description, else to the
    innermost span open at its submission time."""
    jobs, stages = parse_event_log(log_dir)
    by_id = {s["id"]: s for s in tracer.spans}
    totals: dict[int, dict[str, float]] = {}
    attributed: set[int] = set()
    for job in jobs:
        sid = None
        name, _, tag = job["desc"].rpartition("#")
        if tag.isdigit() and int(tag) in by_id and by_id[int(tag)]["name"] == name:
            sid = int(tag)
        else:
            open_spans = [s for s in tracer.spans if s["start"] <= job["t"] <= s.get("end", 0)]
            if open_spans:
                sid = max(open_spans, key=lambda s: s["start"])["id"]
        if sid is None:
            continue
        acc = totals.setdefault(sid, {"tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "serial_stage_s": 0.0})
        for stage_id in job["stages"]:
            st = stages.get(stage_id)
            if st is None or stage_id in attributed:  # skipped: shuffle output reused
                continue
            attributed.add(stage_id)
            acc["tasks"] += st["tasks"]
            acc["shuffle_write_bytes"] += st["shuffle_write"]
            acc["spill_bytes"] += st["spill"]
            if st["tasks"] < cores:
                acc["serial_stage_s"] += st["run_s"]
    per_name: dict[str, list[dict[str, float]]] = {}
    for s in tracer.spans:
        per_name.setdefault(s["name"], []).append(
            totals.get(s["id"], {"tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "serial_stage_s": 0.0})
        )
    return {
        name: {k: statistics.fmean(a[k] for a in accs) for k in accs[0]}
        for name, accs in per_name.items()
    }


def jvm_counters(spark) -> dict[str, float]:
    """The driver JVM's cumulative JIT compile time, GC time and loaded classes.
    A pass whose generated code misses Spark's codegen cache loads new classes,
    and the JIT compiles them on the same cores the tasks run on."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "jvm.gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000,
        "jvm.classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


# ---------------------------------------------------------------------------
# Resident memory of this process and all its descendants
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root` (from /proc parent links)."""
    parent: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = parent.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory every `interval` seconds on a
    background thread while active; ``peak`` is the largest sample seen."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
