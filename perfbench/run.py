"""Query-log benchmark: one workload per process on local[<all cores>], closed loop, one client.

    python3 perfbench/run.py --workload assess --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one process each

Set-up starts the Spark session, prepares the seeded inputs SETUP_REPS times (the
median counts) and runs the workload's untimed warm-up passes. Passes then run back
to back until --seconds have passed and the workload's minimum number of passes is
done; every
pass's output is checked against the generator's own tallies after its clock stops.

--trace 0 prints the end-to-end metrics; --trace 1 runs untraced passes, then traced
passes (each layer's output persisted and counted inside its own span, Spark event
log on) and prints the per-layer metrics, writing the spans to .perfbench_out/.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
TRACE_UNTRACED_SHARE = 0.4  # of --seconds, in a traced run, before the traced passes

sys.path.insert(0, ROOT)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, help="assess | ingest | corpus | all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (smoke tests use less)")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file this process and its JVM and Python workers write under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_spark() -> None:
    """Stop the session and the JVM, and wait until every process they started has ended."""
    from pyspark import SparkContext

    from spans import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while True:
            try:
                os.kill(pid, 0 if time.monotonic() < deadline else signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def one_pass(wl, tracer, pass_dir: str, label) -> tuple[float, list[str], object]:
    """Run one pass into a fresh directory; a raised error or a failed check
    makes the pass count as failed."""
    shutil.rmtree(pass_dir, ignore_errors=True)
    tracer.pass_id = label
    result = None
    t0 = time.perf_counter()
    try:
        if tracer.enabled:
            with tracer.span("pass"):
                result = wl.run_pass(tracer, pass_dir)
        else:
            result = wl.run_pass(tracer, pass_dir)
        elapsed = time.perf_counter() - t0
        errs = wl.check(result)
    except Exception:
        elapsed = time.perf_counter() - t0
        traceback.print_exc()
        errs = ["pass raised"]
    finally:
        tracer.end_pass()
    for e in errs[:5]:
        print(f"  check failed: {e}", file=sys.stderr)
    return elapsed, errs, result


def measure(args: argparse.Namespace, work: str) -> dict:
    from hadoop_migration_assessment_tools_spark.session import get_spark

    import metrics
    from spans import NullTracer, RssSampler, Tracer, engine_counters, jvm_counters
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(work, "eventlog")
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"), "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T0

    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](spark, args.seed, args.scale)
    prep = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.prepare(tracer, os.path.join(work, f"setup{rep}"))
        prep.append(time.perf_counter() - t)
        if rep:
            shutil.rmtree(os.path.join(work, f"setup{rep - 1}"))
    passes = os.path.join(work, "passes")
    os.makedirs(passes)
    warm = [one_pass(wl, NullTracer(), os.path.join(passes, "pass"), "warmup")[0] for _ in range(wl.warmup_passes)]
    setup_s = session_s + statistics.median(prep) + sum(warm)
    print(f"{args.workload} seed={args.seed} cores={cores} inputs={json.dumps(wl.properties)}")
    print(f"set-up: session {session_s:.2f}s, prepare {['%.2f' % p for p in prep]}, warm-up passes {['%.2f' % w for w in warm]}")

    attempted = failed = 0
    times: list[float] = []
    jvm: dict[str, list[float]] = {}
    deadline = time.perf_counter() + args.seconds * (TRACE_UNTRACED_SHARE if args.trace else 1)
    with RssSampler() as rss:
        while True:
            before = jvm_counters(spark) if args.trace else {}
            elapsed, errs, _ = one_pass(wl, NullTracer(), os.path.join(passes, "pass"), attempted)
            for name, value in (jvm_counters(spark) if args.trace else {}).items():
                jvm.setdefault(name, []).append(value - before[name])
            times.append(elapsed)
            attempted += 1
            failed += bool(errs)
            if time.perf_counter() >= deadline and len(times) >= wl.min_passes:
                break
    wall_s = statistics.median(times)
    print(f"passes: {len(times)}, times {['%.3f' % x for x in times]}, median {wall_s:.3f}s")

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "items_per_s": wl.items / wall_s,
            "stored_bytes_per_event": wl.stored_bytes() / wl.items,
            "peak_rss_mb": rss.peak / 2**20,
        }
        return {"attempted": attempted, "failed": failed, "values": values}

    traced: list[float] = []
    last = None
    deadline = time.perf_counter() + args.seconds * (1 - TRACE_UNTRACED_SHARE)
    while not traced or time.perf_counter() < deadline:
        elapsed, errs, result = one_pass(wl, tracer, os.path.join(passes, "pass"), f"traced{len(traced)}")
        traced.append(elapsed)
        attempted += 1
        failed += bool(errs)
        last = None if errs else result
    layer = wl.layer_metrics(last) if last is not None else {}
    tracer.pass_id = "side"
    try:
        errs, side = wl.side_pass(tracer, os.path.join(passes, "side"))
    except Exception:
        traceback.print_exc()
        errs, side = ["side pass raised"], {}
    for e in errs[:5]:
        print(f"  side pass check failed: {e}", file=sys.stderr)
    if errs or side:  # the workload has a side pass
        attempted += 1
        failed += bool(errs)
    layer.update(side)
    spark.stop()
    counters = engine_counters(tracer, event_log, cores)

    values = {name: 0.0 for name, *_ in metrics.PER_LAYER}
    values["session.start_s"] = session_s
    values["session.warmup_s"] = sum(warm)
    self_times = tracer.self_times()
    for span, metric in metrics.SPAN_TIMES.items():
        if span in self_times:
            values[metric] = statistics.median(self_times[span])
        for counter, *_ in metrics.ENGINE_COUNTERS:
            values[f"{span}.{counter}"] = counters.get(span, {}).get(counter, 0.0)
    for name, vals in tracer.counts.items():
        if name in values:
            values[name] = statistics.median(vals)
    if "correlate.dedup_rows" in tracer.counts:
        values["correlate.dup_rows_dropped"] = statistics.median(tracer.counts["readers.rows"]) - statistics.median(
            tracer.counts["correlate.dedup_rows"]
        )
    values.update(layer)
    values.update({name: statistics.median(deltas) for name, deltas in jvm.items()})
    values["trace.pass_s"] = statistics.median(traced)
    values["trace.untraced_pass_s"] = wall_s
    values["trace.overhead_s"] = values["trace.pass_s"] - wall_s
    values["pass.self_s"] = statistics.median(self_times.get("pass", [0.0]))
    out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
    tracer.write(out, {"workload": args.workload, "seed": args.seed, "inputs": wl.properties,
                       "engine_counters": counters, "metrics": values})
    print(f"traced passes: {['%.3f' % x for x in traced]}; spans written to {os.path.relpath(out, ROOT)}")
    return {"attempted": attempted, "failed": failed, "values": values}


def result_line(correct: bool, attempted: int, failed: int, values: dict) -> str:
    import metrics

    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k.rpartition(":")[2]]} for k, v in values.items()},
    })


def run_all(args: argparse.Namespace) -> int:
    """Each workload in its own process, so session settings cannot leak between them."""
    from workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "values": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        print(proc.stdout, end="")
        if proc.returncode != 0:
            print(f"workload {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            total["values"][f"{name}:{metric}"] = v["value"]
    print(result_line(total["correct"], total["attempted"], total["failed"], total["values"]))
    return 0


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    try:
        import hadoop_migration_assessment_tools_spark  # noqa: F401
    except ImportError as e:
        print(f"the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still stop Spark and clean up
    try:
        res = measure(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(result_line(res["failed"] == 0, res["attempted"], res["failed"], res["values"]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
