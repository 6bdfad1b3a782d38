"""Closed-loop benchmark of the gogstash_spark engine.

    python3 perfbench/run.py --workload logs_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives one local Spark
session (`local[<cores>]`, built by `gogstash_spark.session.get_spark`)
and issues the workload's operation again as soon as the previous one
returns, until `--seconds` have passed. Inputs are generated from
`--seed` under `.perfbench_work/` and removed at exit.

--trace 0 prints the end-to-end metrics; --trace 1 runs the operation
once untraced and once under spans, then decomposes it layer by layer,
prints the per-layer metrics and writes the spans to
`.perfbench_out/spans-<workload>-<seed>.json`.

Every operation's output is checked against DuckDB or numpy; the last
line of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

MIN_OPS = 2  # timed operations per run, however short --seconds is


T_START = time.perf_counter()


def log(msg: str) -> None:
    print("perfbench %6.1fs: %s" % (time.perf_counter() - T_START, msg), file=sys.stderr, flush=True)


def start_session(work: str):
    from gogstash_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master="local[%d]" % len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    left = procstat.wait_gone(procstat.descendants(os.getpid()), 30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = procstat.wait_gone(left, 10)


def timed(wl, spark, out: str):
    """Run the operation once: (seconds, cpu seconds, result)."""
    me = os.getpid()
    c0, t0 = procstat.cpu_seconds(me), time.perf_counter()
    result = wl.run(spark, out)
    t1 = time.perf_counter()
    return t1 - t0, procstat.cpu_seconds(me) - c0, result


def setup(wl, work: str):
    """One cold start: launch the JVM and the session, load the inputs,
    and warm up with one untimed operation, whose cost (JIT, code
    generation, Python worker start) is two to three times a warm
    one's. Returns (spark, set-up seconds)."""
    warmup = os.path.join(work, "warmup")
    t0 = time.perf_counter()
    spark = start_session(work)
    wl.load(spark)
    t1 = time.perf_counter()
    wl.run(spark, warmup)
    t2 = time.perf_counter()
    log("cold start: session + load %.2f s, warm-up %.2f s" % (t1 - t0, t2 - t1))
    workloads.clear(warmup)
    spark.catalog.clearCache()
    return spark, t2 - t0


def measure(wl, spark, work: str, seconds: float, rss: procstat.PeakRss, setup_s: float):
    """Repeat the operation until `seconds` have passed and at least
    MIN_OPS have run; every figure is the median over the operations."""
    walls, cpus, peaks, outs = [], [], [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while attempted < MIN_OPS or time.perf_counter() < deadline:
        out = os.path.join(work, "out%d" % attempted)
        attempted += 1
        rss.peak, rss.armed = 0, True
        try:
            wall, cpu, result = timed(wl, spark, out)
        except Exception:
            failed += 1
            log("operation raised:\n" + traceback.format_exc())
            continue
        finally:
            rss.armed = False
            spark.catalog.clearCache()
        problems = wl.check(result, out)
        if problems:
            failed += 1
            log("check failed: " + "; ".join(problems))
        walls.append(wall)
        cpus.append(cpu)
        peaks.append(rss.peak)
        outs.append(wl.out_bytes(out))
        workloads.clear(out)
    if not walls:
        raise RuntimeError("no operation completed")
    wall = statistics.median(walls)
    q = statistics.quantiles(walls, n=4) if len(walls) > 1 else [wall, wall, wall]
    log("wall_s median %.4f q1 %.4f q3 %.4f over %d operations %s; cpu_s %s; "
        "peak_rss_mb %s; failed_share %d/%d"
        % (wall, q[0], q[2], len(walls), ["%.2f" % w for w in walls],
           ["%.2f" % c for c in cpus], ["%.0f" % (p / 2**20) for p in peaks], failed, attempted))
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": wl.rows_in / wall,
        "cpu_s": statistics.median(cpus),
        "out_mb": statistics.median(outs) / 2**20,
    }
    return metrics, attempted, failed


def trace_run(wl, spark, work: str, seed: int, rss: procstat.PeakRss):
    """One traced operation between two untraced ones, whose mean wall
    is the baseline of the tracing overhead; then the decomposition.
    The process tree's peak RSS is taken over all of it."""
    failed, untraced = 0, []
    rss.peak, rss.armed = 0, True

    def plain() -> None:
        nonlocal failed
        out = os.path.join(work, "untraced")
        wall, _, result = timed(wl, spark, out)
        spark.catalog.clearCache()
        failed += bool(wl.check(result, out))
        workloads.clear(out)
        untraced.append(wall)

    def baseline() -> float:
        plain()
        return statistics.mean(untraced)

    plain()
    tr = Tracer(spark, "%s-%d-%d" % (wl.name, seed, os.getpid()))
    out = os.path.join(work, "traced")
    metrics, result = wl.trace(spark, tr, out, baseline)
    failed += bool(wl.check(result, out))
    rss.armed = False
    metrics["process.peak_rss_mb"] = rss.peak / 2**20
    spans_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(spans_dir, exist_ok=True)
    path = os.path.join(spans_dir, "spans-%s-%d.json" % (wl.name, seed))
    tr.dump(path, {"workload": wl.name, "seed": seed, "metrics": metrics})
    log("spans written to %s; tracing overhead %.4f s" % (path, metrics["trace.overhead_s"]))
    return metrics, 3, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import gogstash_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log("cannot import the engine from %s: %s" % (ROOT, e))
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        log("unknown workload %r" % args.workload)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", "%s-%d-%d" % (wl.name, args.seed, os.getpid()))
    workloads.clear(work)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temp file inside the checkout, for Python and for the
    # JVMs that spark-submit starts
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp

    spark = None
    try:
        with procstat.PeakRss(os.getpid()) as rss:
            wl.generate(os.path.join(work, "input"), args.seed)
            spark, setup_s = setup(wl, work)
            t0 = time.perf_counter()
            wl.expect(spark)
            log("expected outputs computed in %.2f s" % (time.perf_counter() - t0))
            if args.trace:
                got, attempted, failed = trace_run(wl, spark, work, args.seed, rss)
                wanted = bench["per_layer"]
            else:
                got, attempted, failed = measure(wl, spark, work, args.seconds, rss, setup_s)
                wanted = bench["end_to_end"]
    except Exception:
        log("run aborted:\n" + traceback.format_exc())
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        workloads.clear(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    metrics = {}
    for m in wanted:
        value = float(got.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        log("%-36s %14.6f %s" % (m["name"], value, m["unit"]))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
