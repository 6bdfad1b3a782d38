"""Round-6 optimization harness (bench.py is frozen for measurement).

Times individual queries in isolation with the noop sink (guide §1.4),
labels jobs (§1.5), and optionally dumps .explain("formatted") per query
to plans/r06/. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
        [--queries a,b,c] [--reps 2] [--plans before|after]

Prints one JSON line {"queries": {name: best_sec}, "sf_dir": ...}.

`--phases` adds a per-phase breakdown of `--reps` `run_pipeline` runs
of `standard_spec` under "phases": plan build, write and post-write,
each with its wall and its job count from the status store, and the
rep's `by_route` file count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def phase_breakdown(spark, spec, out_dir: str, base_dir: str, run_id: str) -> dict:
    """One `run_pipeline` split into its phases, each under its own job
    group `<run_id>/<phase>`:

    - plan: compile, input read and plan analysis, up to the write;
    - write: the partitioned by_route commit, the runner's first
      `_commit_dir`;
    - post_write: lineage, protocol sinks, aggregates and the ledger.

    The boundaries come from wrapping that first `_commit_dir` for the
    length of the call. Returns {phase: {"wall_s", "jobs"}} plus
    "by_route_files", the number of parquet files the write committed."""
    from gogstash_spark import runner

    sc = spark.sparkContext
    marks: list[tuple[str, float]] = []

    def enter(phase: str) -> None:
        marks.append((phase, time.perf_counter()))
        sc.setJobGroup("%s/%s" % (run_id, phase), phase)

    commit = runner._commit_dir

    def first_commit(write, final_dir):
        runner._commit_dir = commit  # every later commit passes straight through
        enter("write")
        commit(write, final_dir)
        enter("post_write")

    runner._commit_dir = first_commit
    try:
        enter("plan")
        runner.run_pipeline(spark, spec, out_dir=out_dir, base_dir=base_dir, resume=False)
        marks.append(("", time.perf_counter()))
    finally:
        runner._commit_dir = commit
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    out: dict = {
        phase: {
            "wall_s": round(end - start, 3),
            "jobs": len(tracker.getJobIdsForGroup("%s/%s" % (run_id, phase))),
        }
        for (phase, start), (_, end) in zip(marks, marks[1:])
    }
    out["by_route_files"] = sum(
        f.endswith(".parquet")
        for _, _, files in os.walk(os.path.join(out_dir, "by_route"))
        for f in files
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None, help="suffix: dump plans/r06/<q>_<suffix>.txt")
    ap.add_argument("--e2e", action="store_true", help="also time the pipeline e2e write")
    ap.add_argument("--phases", action="store_true",
                    help="also break --reps pipeline runs into plan/write/post_write")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from gogstash_spark.session import get_spark
    from gogstash_spark.sources.transcripts import ensure_transcripts

    spark = get_spark(app_name="gogstash_spark_bench_extra", master="local[%s]" % cpus)
    data_dir = ensure_transcripts(sf_dir)

    import bench
    import __spark_entry__ as entry

    qs = entry.queries()
    qs.update(bench._bench_extras())

    names = list(qs) if args.queries is None else [q for q in args.queries.split(",") if q]
    timings: dict[str, float] = {}
    repo = os.path.dirname(os.path.abspath(__file__))

    spark.range(0, 1000).count()  # session warm-up

    for name in names:
        if name not in qs:
            print("skip unknown query: %s" % name, file=sys.stderr)
            continue
        if args.plans:
            df = qs[name](spark, sf_dir)
            os.makedirs(os.path.join(repo, "plans", "r06"), exist_ok=True)
            with open(
                os.path.join(repo, "plans", "r06", "%s_%s.txt" % (name, args.plans)), "w"
            ) as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted")))
        best = float("inf")
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription("%s rep%d" % (name, rep))
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        print("%-24s %8.3f" % (name, best), file=sys.stderr)

    if args.e2e:
        import shutil

        from gogstash_spark.pipelines import standard_spec
        from gogstash_spark.runner import run_pipeline

        out_dir = "/tmp/gogstash_bench_extra_out"
        spec = standard_spec(data_dir)
        best = float("inf")
        for rep in range(max(args.reps, 2)):
            shutil.rmtree(out_dir, ignore_errors=True)
            spark.sparkContext.setJobDescription("pipeline_e2e_write rep%d" % rep)
            t0 = time.time()
            run_pipeline(spark, spec, out_dir=out_dir, base_dir=data_dir,
                         resume=False, write_mode="partitioned")
            best = min(best, time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        timings["pipeline_e2e_write"] = round(best, 3)
        print("%-24s %8.3f" % ("pipeline_e2e_write", best), file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)

    phases = []
    if args.phases:
        import shutil

        from gogstash_spark.pipelines import standard_spec

        out_dir = "/tmp/gogstash_bench_extra_phases"
        for rep in range(args.reps):
            shutil.rmtree(out_dir, ignore_errors=True)
            phases.append(phase_breakdown(
                spark, standard_spec(data_dir), out_dir, data_dir, "phases/%d" % rep
            ))
            print("phases rep%d %s" % (rep, phases[-1]), file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)

    print(json.dumps({"queries": timings, "phases": phases, "sf_dir": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
