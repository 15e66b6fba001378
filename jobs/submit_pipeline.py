#!/usr/bin/env python
"""spark-submit entry point for the production pipeline.

Ship and run exactly as the north rule requires (BASELINE.json:6
"ships as spark-submit --py-files modules"):

    ZIP=$(python -c "from logparse_spark.packaging import build_pyfiles_zip; print(build_pyfiles_zip())")
    spark-submit --master local[32] --py-files "$ZIP" jobs/submit_pipeline.py \
        --source data/transcripts/sf0.1/transcripts.parquet \
        --dict-dir data/transcripts/sf0.1 \
        --out /tmp/routed_out --rules rules/default.rules \
        --buckets 64 --salt-buckets 8 --groups 4

On a real cluster the same command with --master yarn/k8s and an
Iceberg catalog config is the production deployment; resume works by
re-running the identical command (committed buckets are skipped).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    p = argparse.ArgumentParser(description="logparse_spark pipeline job")
    p.add_argument("--source", required=True, help="transcripts parquet path")
    p.add_argument("--source-format",
                   choices=["parquet", "jsonl", "syslog", "multiline"],
                   default="parquet",
                   help="raw-ingest mode: parse jsonl / syslog text / "
                        "multiline syslog (continuation-line records) "
                        "straight into the pipeline; raw modes need an "
                        "explicit --buckets and run best with --groups 1")
    p.add_argument("--out", required=True, help="sink output root")
    p.add_argument("--rules", action="append", default=None,
                   help="rule file; repeatable — files compose in order "
                        "(one ordered first-match list, the LogParse "
                        "multi-config CLI shape)")
    p.add_argument("--dict-dir", default=None, help="role/tool dict parquet dir")
    p.add_argument("--buckets", default="auto",
                   help="output bucket count, or 'auto' to size from the "
                        "input's row count (rows-per-bucket invariant; "
                        "recorded in the manifest and reused on resume)")
    p.add_argument("--salt-buckets", type=int, default=8)
    p.add_argument("--groups", type=int, default=1,
                   help="commit granularity: bucket groups per run")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--hot-threshold", default=None,
                   help="turns-per-conversation above which a conversation "
                        "is salted across tasks; an int, 'auto' (bucket-"
                        "relative: rows/buckets/4, the scale-stable choice), "
                        "or omitted for no salting")
    p.add_argument("--engine", choices=["udf", "sql"], default="udf")
    p.add_argument("--format", choices=["parquet", "iceberg"], default="parquet",
                   help="sink format; iceberg needs the runtime jar + --table")
    p.add_argument("--table", default=None,
                   help="iceberg table identifier (cat.db.name)")
    p.add_argument("--report", default=None, help="write the LogParse-style text report here")
    p.add_argument("--audit-min-rows", type=int, default=None,
                   help="WAP gate: refuse to publish a group staging fewer "
                        "rows than this (audits.rows_at_least)")
    p.add_argument("--audit-max-unmatched-frac", type=float, default=None,
                   help="WAP gate: refuse to publish a group whose unmatched "
                        "fraction reaches this (rule/format drift alarm)")
    p.add_argument("--sink-cardinality", action="store_true",
                   help="after the run, compute exact per-sink conv "
                        "cardinality over the committed table and record it "
                        "in the manifest")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("logparse_spark.pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from logparse_spark import pipeline
    from logparse_spark.rules import load_rules

    gate = None
    exps = []
    if args.audit_min_rows is not None:
        from logparse_spark import audits

        exps.append(audits.rows_at_least(args.audit_min_rows))
    if args.audit_max_unmatched_frac is not None:
        from logparse_spark import audits

        exps.append(audits.unmatched_fraction_below(
            args.audit_max_unmatched_frac))
    if exps:
        from logparse_spark import audits

        gate = audits.expect(*exps)

    rules = args.rules or ["rules/default.rules"]
    result = pipeline.run(
        spark,
        source_path=args.source,
        out_dir=args.out,
        rules_path=rules,
        dict_dir=args.dict_dir,
        buckets=args.buckets if args.buckets == "auto" else int(args.buckets),
        salt_buckets=args.salt_buckets,
        groups=args.groups,
        resume=not args.no_resume,
        hot_threshold=(args.hot_threshold if args.hot_threshold in (None, "auto")
                       else int(args.hot_threshold)),
        engine=args.engine,
        sink_format=args.format,
        sink_table=args.table,
        audit=gate,
        source_format=args.source_format,
    )
    cardinality = None
    if args.sink_cardinality:
        from logparse_spark.sinks import SinkSet

        cardinality = SinkSet(out_dir=args.out).compute_sink_cardinality(spark)
    if args.report:
        report = pipeline.render_report(spark, args.out, load_rules(rules))
        with open(args.report, "w", encoding="utf-8") as f:
            f.write(report)
    print(json.dumps({
        "out_dir": result.out_dir,
        "processed_buckets": len(result.processed_buckets),
        "skipped_buckets": len(result.skipped_buckets),
        "rows": result.total_rows_processed,
        **({"sink_cardinality": cardinality} if cardinality else {}),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
