#!/usr/bin/env python
"""Operational CLI for a committed sink table — the day-2 surface an
operator of the routed store actually uses, one spark-submit away:

    spark-submit --py-files "$ZIP" jobs/table_tool.py --out /path/to/table \
        snapshots                          # the commit log (VERSION list)
    ... stats                              # manifest-only table census
                                           # (rows/sinks/files/snapshots)
    ... compact [--max-records-per-file N] # rewrite_data_files analogue
    ... vacuum  [--min-age-minutes M]      # expire/remove_orphans analogue
    ... lookup --conv-id X [--as-of K]     # bucket-pruned point read
    ... changes --since K [--until J]      # change feed: rows inserted and
                                           # deleted by commits K+1..J
    ... timerange --from T0 --to T1        # event-time range read with
                                           # file-level ts-bounds skipping
    ... mv-refresh --view-dir V            # fold new snapshots into the
                                           # materialized daily-counts view
    ... mv-status  --view-dir V            # view watermark vs table log
                                           # (staleness probe, no Spark)
    ... mv-read    --view-dir V [--sink-id S]  # read the current view
                                           # version (the dashboard query)
    ... cardinality [--approx]             # per-sink conv counts: exact,
                                           # or mergeable HLL sketches
    ... delete --conv-id X [--conv-id Y]   # DELETE FROM analogue (COW)
    ... upsert --source P --rules R [--dict-dir D]  # MERGE INTO analogue
    ... rollback --to K                    # repoint table to snapshot K
    ... rebucket --to-buckets N [--max-records-per-file M]
                                           # partition evolution: rewrite
                                           # the table under a new bucket
                                           # count (replace_all snapshot)

Every subcommand prints ONE JSON line so callers can pipe it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `snapshots` is a pure manifest read and runs under plain `python`
# (no Spark); make the repo-root import work there too, not only under
# spark-submit --py-files.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    p = argparse.ArgumentParser(description="sink table maintenance/read tool")
    p.add_argument("--out", required=True, help="sink table root (out_dir)")
    sub = p.add_subparsers(dest="op", required=True)

    sub.add_parser("snapshots")
    sub.add_parser("stats")
    va = sub.add_parser("validate")
    va.add_argument("--require-count-key", action="store_true",
                    help="sum-bearing rule sets: count_key is required")
    c = sub.add_parser("compact")
    c.add_argument("--max-records-per-file", type=int, default=None)
    c.add_argument("--min-files-per-partition", type=int, default=2)
    c.add_argument("--sort-order", choices=["key", "time", "zorder"],
                   default="key",
                   help="file clustering: key = conv-contiguous (point "
                        "lookups), time = time-contiguous (range reads), "
                        "zorder = interleaved (mixed workloads: usable "
                        "bounds on BOTH conv and ts)")
    v = sub.add_parser("vacuum")
    v.add_argument("--min-age-minutes", type=float, default=60.0)
    lk = sub.add_parser("lookup")
    lk.add_argument("--conv-id", action="append", required=True,
                    help="repeatable; several ids run one batch "
                         "bucket-pruned lookup (the GDPR-export read)")
    lk.add_argument("--limit", type=int, default=1000)
    lk.add_argument("--as-of", type=int, default=None,
                    help="snapshot id to time-travel the lookup to")
    ch = sub.add_parser("changes")
    ch.add_argument("--since", type=int, required=True)
    ch.add_argument("--until", type=int, default=None)
    mv = sub.add_parser("mv-refresh")
    mv.add_argument("--view-dir", required=True,
                    help="materialized sink-daily-counts view root")
    mvs = sub.add_parser("mv-status")
    mvs.add_argument("--view-dir", required=True,
                     help="view watermark vs the table snapshot log "
                          "(pure filesystem read, no Spark)")
    mvr = sub.add_parser("mv-read")
    mvr.add_argument("--view-dir", required=True,
                     help="read the current view version's rows")
    mvr.add_argument("--sink-id", default=None,
                     help="optional filter to one sink's daily counts")
    mvr.add_argument("--limit", type=int, default=10000)
    tr = sub.add_parser("timerange")
    tr.add_argument("--from", dest="ts_from", required=True,
                    help="inclusive ISO lower bound, e.g. 2026-03-03")
    tr.add_argument("--to", dest="ts_to", required=True,
                    help="exclusive ISO upper bound")
    tr.add_argument("--as-of", type=int, default=None)
    ca = sub.add_parser("cardinality")
    ca.add_argument("--approx", action="store_true",
                    help="mergeable HLL sketches (logparse_spark."
                         "sketches) instead of the exact distinct: "
                         "per-sink estimates + the global distinct "
                         "(a register-max union of the same cached "
                         "per-sink sketches — one table scan total)")
    dl = sub.add_parser("delete")
    dl.add_argument("--conv-id", action="append", required=True,
                    help="repeatable; each named conversation is removed "
                         "from every sink (copy-on-write, bucket-pruned)")
    up = sub.add_parser("upsert")
    up.add_argument("--source", required=True,
                    help="transcripts parquet of re-delivered/new convs")
    up.add_argument("--rules", default="rules/default.rules")
    up.add_argument("--dict-dir", default=None)
    rb = sub.add_parser("rollback")
    rb.add_argument("--to", type=int, required=True,
                    help="snapshot id to repoint the live table at")
    re_ = sub.add_parser("rebucket")
    re_.add_argument("--to-buckets", type=int, required=True,
                     help="new bucket-space size (full rewrite; the old "
                          "runs become vacuum-collectable)")
    re_.add_argument("--max-records-per-file", type=int, default=None)
    args = p.parse_args()

    from logparse_spark.sinks import SinkSet

    ss = SinkSet(out_dir=args.out)
    if args.op == "snapshots":
        print(json.dumps({"snapshots": ss.snapshots()}))
        return
    if args.op == "validate":
        # footer-metadata-only schema contract; no Spark
        print(json.dumps(ss.validate_schema(
            require_count_key=args.require_count_key)))
        return
    if args.op == "stats":
        # pure manifest + filesystem read (no Spark): the table census
        # an operator checks first — live rows/sinks from committed
        # lineage, file count from the committed runs' dirs (base and
        # delta runs), and how many buckets carry an upsert delta
        from logparse_spark.sinks import load_manifest

        manifest = load_manifest(args.out)
        per_sink: dict[str, int] = {}
        rows = 0
        runs = set()
        delta_buckets = 0
        for b, meta in manifest["buckets"].items():
            rows += int(meta["rows"])
            runs.add(meta["run_id"])
            if meta.get("delta_run_id"):
                runs.add(meta["delta_run_id"])
                delta_buckets += 1
            for s, n in meta.get("sinks", {}).items():
                per_sink[s] = per_sink.get(s, 0) + int(n)
        n_files = 0
        for r in runs:
            for _, _, fs in os.walk(os.path.join(args.out, "runs", r)):
                n_files += sum(1 for f in fs if f.endswith(".parquet"))
        print(json.dumps({
            "rows": rows, "per_sink": per_sink,
            "buckets": len(manifest["buckets"]),
            "delta_buckets": delta_buckets,
            "n_buckets": manifest.get("n_buckets"),
            "runs": len(runs), "files": n_files,
            "snapshots": len(ss.snapshots()),
        }))
        return
    if args.op == "rollback":
        # pure manifest + parquet-footer operation: no Spark session
        print(json.dumps(ss.rollback(args.to)))
        return
    if args.op == "mv-status":
        # pure JSON/manifest/filesystem read: no Spark session — the
        # staleness probe a dashboard runs before forcing a refresh
        from logparse_spark.materialized import SinkDailyCounts

        print(json.dumps(
            SinkDailyCounts(args.out, args.view_dir).status()))
        return

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("logparse_spark.table_tool").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.op == "compact":
            kwargs = {"min_files_per_partition": args.min_files_per_partition,
                      "sort_order": args.sort_order}
            if args.max_records_per_file is not None:
                kwargs["max_records_per_file"] = args.max_records_per_file
            print(json.dumps(ss.compact(spark, **kwargs)))
        elif args.op == "vacuum":
            print(json.dumps(
                {"removed_runs": ss.vacuum(min_age_minutes=args.min_age_minutes)}
            ))
        elif args.op == "lookup":
            ids = args.conv_id
            df = ss.read_conversations(spark, ids, as_of=args.as_of)
            rows = (df.orderBy("conv_id", "turn_idx")
                    .limit(args.limit).collect())
            print(json.dumps({"conv_id": ids, "n": len(rows),
                              "rows": [r.asDict() for r in rows]},
                             default=str))
        elif args.op == "changes":
            n = {r["_change_type"]: r["count"] for r in
                 ss.changes(spark, since=args.since, until=args.until)
                 .groupBy("_change_type").count().collect()}
            print(json.dumps({"since": args.since, "until": args.until,
                              "inserted": n.get("insert", 0),
                              "deleted": n.get("delete", 0)}))
        elif args.op == "mv-refresh":
            from logparse_spark.materialized import SinkDailyCounts

            res = SinkDailyCounts(args.out, args.view_dir).refresh(spark)
            print(json.dumps(res))
        elif args.op == "mv-read":
            from logparse_spark.materialized import SinkDailyCounts

            df = SinkDailyCounts(args.out, args.view_dir).read(spark)
            if args.sink_id is not None:
                df = df.filter(df.sink_id == args.sink_id)
            rows = (df.orderBy("sink_id", "day")
                    .limit(args.limit).collect())
            print(json.dumps(
                {"n": len(rows),
                 "rows": [r.asDict() for r in rows]}, default=str))
        elif args.op == "timerange":
            from pyspark.sql import functions as F

            df = ss.read_time_range(spark, args.ts_from, args.ts_to,
                                    as_of=args.as_of)
            per_sink = {r["sink_id"]: r["n"] for r in
                        df.groupBy("sink_id")
                        .agg(F.count(F.lit(1)).alias("n")).collect()}
            print(json.dumps({"from": args.ts_from, "to": args.ts_to,
                              "rows": sum(per_sink.values()),
                              "per_sink": per_sink}))
        elif args.op == "cardinality":
            if args.approx:
                from logparse_spark import sketches

                # same frame as the exact leg (ALL sinks incl.
                # 'ignored' — the two modes must report the same sink
                # set); ONE table scan builds the per-sink sketches,
                # the global estimate rolls up the tiny cached
                # per-sink sketches driver-adjacent, never rescanning
                per = sketches.hll_cardinality(
                    ss._read_committed(spark), ["sink_id"], "conv_id")
                per.persist()
                try:
                    per_sink = {r["sink_id"]: int(r["estimate"])
                                for r in per.collect()}
                    total = int(sketches.hll_rollup(per, [])
                                .collect()[0]["estimate"])
                finally:
                    per.unpersist()
                print(json.dumps({"approx": True, "per_sink": per_sink,
                                  "total_distinct_convs": total}))
            else:
                print(json.dumps(ss.compute_sink_cardinality(spark)))
        elif args.op == "delete":
            print(json.dumps(ss.delete_conversations(spark, args.conv_id)))
        elif args.op == "rebucket":
            print(json.dumps(ss.rebucket(
                spark, args.to_buckets,
                max_records_per_file=args.max_records_per_file)))
        elif args.op == "upsert":
            from logparse_spark.pipeline import upsert

            print(json.dumps(upsert(
                spark, args.source, args.out,
                rules_path=args.rules, dict_dir=args.dict_dir,
            )))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
