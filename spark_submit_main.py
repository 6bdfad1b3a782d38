"""spark-submit entry point.

    python tools/build_zip.py                        # -> dist/gogstash_spark.zip
    spark-submit --py-files dist/gogstash_spark.zip \
        spark_submit_main.py --spec pipeline.json \
        --input /data/transcripts --out /data/out [--no-resume] [--streaming]

On a real cluster the input/output paths are S3/HDFS URIs; the runner
writes every table sink in one atomic partitioned parquet commit under
out/by_route/route=<sink>/, and its ledger lets a re-run on the same
--out skip what is committed while still reporting the committed
sink_rows (resume is the default; --no-resume recomputes everything).

--streaming runs the same spec as a Structured Streaming query over
spec.input, which may be any file type (parquet/orc/json/csv, or text
with its codec), kafka, or a multi of them. Each micro-batch commits
through the same write into out/by_route/epoch=N/route=<sink>/ and the
same pass after it into out/_lineage/epoch=N and out/agg_<name>/epoch=N
(checkpoint in out/_checkpoint); drain inputs (exec/http/redis/...),
protocol outputs and avg/pNN aggregates are rejected.
Its JSON line gives sink_rows summed over every epoch's lineage under
--out, and the epoch count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--spec", required=True, help="pipeline spec JSON/YAML path")
    p.add_argument("--input", default=None, help="override spec.input.path")
    p.add_argument("--out", required=True, help="output directory for sinks")
    p.add_argument("--base-dir", default=".", help="base dir for relative lookup paths")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--streaming", action="store_true")
    args = p.parse_args(argv)

    from gogstash_spark.plans.spec import PipelineSpec
    from gogstash_spark.runner import run_pipeline

    spark = SparkSession.builder.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spec = PipelineSpec.load(args.spec)
    if args.input:
        spec.input["path"] = args.input

    if args.streaming:
        from gogstash_spark.runner import _lineage_rollup
        from gogstash_spark.streaming.pipeline import run_pipeline_streaming

        t0 = time.time()
        run_pipeline_streaming(spark, spec, args.out, base_dir=args.base_dir)
        lin_root = os.path.join(args.out, "_lineage")
        epochs = os.listdir(lin_root) if os.path.isdir(lin_root) else []
        print(
            json.dumps(
                {
                    "sink_rows": {
                        r["route"]: int(r["rows"]) for r in _lineage_rollup(spark, lin_root)
                    },
                    "epochs": sum(e.startswith("epoch=") for e in epochs),
                    "wall_sec": round(time.time() - t0, 2),
                }
            )
        )
        return 0

    res = run_pipeline(
        spark,
        spec,
        out_dir=args.out,
        base_dir=args.base_dir,
        resume=not args.no_resume,
    )
    print(
        json.dumps(
            {
                "sink_rows": res.sink_rows,
                "agg_rows": res.agg_rows,
                "skipped_sinks": res.skipped_sinks,
                "metrics": res.metrics,
                "wall_sec": round(res.wall_sec, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
