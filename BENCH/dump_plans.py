"""Write BENCH/PLANS.md: formatted physical plans of the load-bearing
queries, with the plan properties each one must keep (one exchange,
one Arrow stage, broadcast-only joins, distributed top-k...).

Run: python BENCH/dump_plans.py   (regenerates the file)
The same properties are asserted by tests/test_plans.py; this artifact
just makes them reviewable without running Spark.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")


def fmt_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    from logparse_spark import corpus, pipeline, stages
    from logparse_spark.fixtures import ensure_fixture
    from logparse_spark.rules import load_rules
    from logparse_spark.session import get_spark

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "4g"})
    d = ensure_fixture("0.01")
    sf = "/root/testdata/sf0.01"
    compiled = load_rules("/root/repo/rules/default.rules")
    df = stages.read_transcripts(spark, os.path.join(d, "transcripts.parquet"))
    role = spark.read.parquet(os.path.join(d, "role_dict.parquet"))
    tool = spark.read.parquet(os.path.join(d, "tool_dict.parquet"))

    sections = []

    cdf = pipeline.classify(df, compiled, role, tool, buckets=16, salt_buckets=4)
    sections.append((
        "Full pipeline logical plan (classify: scan -> ArrowUDF parse "
        "(slim) -> bucket+salt repartition -> broadcast rule metadata + "
        "enrich)",
        "Must hold: exactly ONE Exchange hashpartitioning (the explicit "
        "bucket shuffle) carrying ONLY the minimal parsed record "
        "(conv_id, turn_idx, role, tool, ts, rule_id int, rendered, "
        "bucket) — text dropped before it, every constant/dictionary "
        "string attached AFTER it via BroadcastHashJoin; exactly ONE "
        "ArrowEvalPython; scan reads just the 6 input columns.",
        fmt_plan(cdf),
    ))

    sql_df = stages.parse_match(df, compiled, engine="sql")
    sections.append((
        "Pure-JVM dispatch alternative (engine='sql')",
        "Must hold: no Python nodes at all; the chained CASE/rlike "
        "dispatch stays inside WholeStageCodegen.",
        fmt_plan(sql_df),
    ))

    ann = corpus.CORPUS_QUERIES["ann_cosine"](spark, sf)
    sections.append((
        "Brute-force cosine ANN top-k",
        "Must hold: TakeOrderedAndProject (per-partition partial top-k + "
        "driver merge), never a row_number window over the full table.",
        fmt_plan(ann),
    ))

    rev = corpus.CORPUS_QUERIES["revenue_by_nation"](spark, sf)
    sections.append((
        "Multi-way shuffle join (revenue_by_nation, TPC-H-Q5 shape)",
        "Must hold: no CartesianProduct; nation joined via "
        "BroadcastHashJoin; lineitem x orders join strategy left to "
        "Catalyst/AQE (shuffle join at scale, broadcast when runtime "
        "stats show a small side); partial aggregation before the "
        "final group-by exchange.",
        fmt_plan(rev),
    ))

    batch = corpus.ann_search(
        spark, sf, "lsh", query_ids=[0, 1, 2], k=5, n_tables=2, probe_radius=1
    )
    sections.append((
        "Batched multi-table multi-probe LSH ANN (ann_search, one pass "
        "answers the whole query workload)",
        "Must hold: the query/probe side is a BroadcastHashJoin build "
        "side (never a shuffle of the index); candidate dedup is a "
        "partial-aggregating HashAggregate on (qid, vec_id) (map-side "
        "combine of multi-table duplicates); the per-query top-k rank "
        "filter plans as WindowGroupLimit so each partition forwards "
        "<= k rows per qid into the window exchange.",
        fmt_plan(batch),
    ))

    probed = corpus.ann_search(
        spark, sf, "lsh", query_ids=[0, 1, 2], k=5, n_tables=2,
        probe_radius=1, index_dir=corpus.ensure_ann_index(spark, sf, n_tables=2),
    )
    sections.append((
        "Persisted-index ANN probe (ann_search over build_ann_index's "
        "partitionBy(t, bucket) layout)",
        "Must hold: the index scan carries PartitionFilters on "
        "(t, bucket) built from the probe workload — the scan lists "
        "and reads ONLY the probed partition directories (numFiles "
        "fraction asserted in tests/test_plans.py: 28/128 at radius 1) "
        "— plus the same broadcast/dedup/WindowGroupLimit shape as the "
        "on-the-fly arm above.",
        fmt_plan(probed),
    ))

    ivft = corpus.ann_search(
        spark, sf, "ivf", query_ids=[0], k=5, nprobe=2,
        index_dir=corpus.ensure_ann_index(spark, sf, n_tables=2),
    )
    sections.append((
        "Trained-IVF probe (ann_search over build_ann_index's "
        "partitionBy(cell) layout, Lloyd-k-means quantizer)",
        "Must hold: the cell scan carries PartitionFilters on cell "
        "built from the query's nprobe nearest TRAINED centroids "
        "(min-L2 probe ranking is a pure codegen expression over the "
        "k x dim centroid literals — no Python, no shuffle to rank); "
        "the probe relation broadcasts; per-query top-k plans "
        "WindowGroupLimit like the LSH arms.",
        fmt_plan(ivft),
    ))

    from logparse_spark.sinks import SinkSet

    import tempfile

    sink_dir = tempfile.mkdtemp(prefix="plans_sink_")
    sink = SinkSet(out_dir=sink_dir)
    lineage = sink.write_classified(cdf)
    sink.commit(lineage)
    compaction = sink._compaction_plan(spark, sink._committed_by_run())
    sections.append((
        "Compaction rewrite (SinkSet.compact: Iceberg rewrite_data_files "
        "stand-in)",
        "Must hold: the scan is partition-pruned to the committed "
        "buckets being rewritten (PartitionFilters on bucket); exactly "
        "ONE Exchange (the hashpartitioning(bucket) that co-locates "
        "each bucket into one writer task); the per-task sort satisfies "
        "the dynamic-partition writer's required ordering so no extra "
        "write-side sort is inserted.",
        fmt_plan(compaction),
    ))

    tfidf = corpus.CORPUS_QUERIES["tfidf_terms"](spark, sf)
    sections.append((
        "Global TF-IDF top-30 terms",
        "Must hold: TakeOrderedAndProject for the top-k (never a global "
        "sort); the n_docs scalar attached via broadcast, not a "
        "shuffle.",
        fmt_plan(tfidf),
    ))

    md = ["# BENCH/PLANS — physical plans of the load-bearing queries",
          "",
          "Regenerate with `python BENCH/dump_plans.py`. Plan-shape",
          "assertions live in tests/test_plans.py; this file is the",
          "human-reviewable snapshot.", ""]
    for title, props, plan in sections:
        md += [f"## {title}", "", props, "", "```", plan.rstrip(), "```", ""]
    with open("/root/repo/BENCH/PLANS.md", "w", encoding="utf-8") as f:
        f.write("\n".join(md))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
