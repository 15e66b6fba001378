"""End-to-end orchestration: parse -> enrich -> route -> aggregate.

``run()`` is the production entry point (shipped via
``spark-submit --py-files``, see jobs/submit_pipeline.py). It processes
the input in bucket *groups*, committing each group atomically to the
sink manifest, so a killed run resumes from the last committed group
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import stages
from .rules import SINK_IGNORED, CompiledRules, load_rules, spark_case, spark_in
from .sinks import SinkSet, committed_buckets, load_manifest


@dataclass
class RunResult:
    out_dir: str
    processed_buckets: list[int]
    skipped_buckets: list[int]
    total_rows_processed: int


def _load_dicts(spark: SparkSession, dict_dir: str) -> tuple[DataFrame, DataFrame]:
    role_dict = spark.read.parquet(os.path.join(dict_dir, "role_dict.parquet"))
    tool_dict = spark.read.parquet(os.path.join(dict_dir, "tool_dict.parquet"))
    return role_dict, tool_dict


def classify(
    df: DataFrame,
    compiled: CompiledRules,
    role_dict: DataFrame | None = None,
    tool_dict: DataFrame | None = None,
    buckets: int = 64,
    salt_buckets: int = 8,
    hot_convs: list[str] | None = None,
    engine: str = "udf",
) -> DataFrame:
    """The full logical plan, no actions:
    parse(slim) -> bucket/salt exchange -> rule metadata -> enrich.

    The parse runs on scan partitions (row groups spread hot
    conversations naturally, so the UDF stage has no skew), and the
    ONE shuffle happens right after it carrying only the minimal
    parsed record (ids, role, tool, ts, rule_id int32, rendered):
    `text` is dropped before the exchange, and every
    constant/dictionary decoration — rule_name/action/sink_id from
    rule_id by literal CASE expressions, role/tool enrichment by
    broadcast hash joins — happens AFTER the exchange on the
    bucket-partitioned stream, so those strings never cross the wire.
    `tool` crosses (it is the post-shuffle enrich key) and is dropped
    after the join; the enrichment columns land in the routed sinks
    (J1 is load-bearing, not decorative)."""
    out = stages.parse_match_slim(df, compiled, engine=engine)
    out = out.drop("text")
    out = stages.bucket_and_salt(out, buckets, salt_buckets, hot_convs)
    out = stages.attach_rule_metadata(out, compiled)
    if role_dict is not None and tool_dict is not None:
        out = stages.enrich(out, role_dict, tool_dict)
    return out.drop("tool")


def run(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    rules_path: str = "/root/repo/rules/default.rules",
    dict_dir: str | None = None,
    buckets: int | str = 64,  # int, or "auto" (stages.auto_bucket_count)
    salt_buckets: int = 8,
    groups: int = 1,
    resume: bool = True,
    hot_threshold: int | str | None = None,  # int, "auto", or None (no salting)
    engine: str = "udf",
    sink_format: str = "parquet",
    sink_table: str | None = None,  # iceberg table id when sink_format=iceberg
    fail_after_groups: int | None = None,  # test hook: simulate a crash
    audit: "Callable[[DataFrame], None] | None" = None,  # WAP gate (audits.py)
    source_format: str = "parquet",  # or raw ingest: jsonl|syslog|multiline
) -> RunResult:
    if audit is not None and sink_format != "parquet":
        raise ValueError(
            "audit gating requires the parquet sink (staged files are "
            "read back pre-commit); on real Iceberg use a WAP branch"
        )
    compiled = load_rules(rules_path)
    # a parquet load scans on splits sized to its input; raw text keeps
    # the session's
    with stages.sized_splits(
            spark, source_path if source_format == "parquet" else None):
        if source_format == "parquet":
            df = stages.read_transcripts(spark, source_path)
        else:
            # raw-ingest mode: the compat sources land the canonical frame
            # (turn_idx derived per host; one inherent window shuffle).
            # Bucket pruning cannot push into a text scan, so raw ingest is
            # best run with groups=1 (one commit group — each extra group
            # re-reads the raw input); 'auto' sizing needs parquet
            # metadata, so buckets/hot_threshold must be explicit here.
            from . import sources

            readers = {"jsonl": sources.read_raw_jsonl,
                       "syslog": sources.read_raw_syslog,
                       "multiline": sources.read_raw_multiline}
            if source_format not in readers:
                raise ValueError(
                    f"source_format must be one of "
                    f"{['parquet', *readers]}: {source_format!r}")
            if source_format == "multiline" and compiled.multiline_header:
                # config-driven assembly: the rules file's `multiline /RE/`
                # directive decides which lines start records; with grok
                # captures it is ALSO the header extraction template
                # (non-syslog layouts), plus the ts "FMT" parse format
                df = sources.read_raw_multiline(
                    spark, source_path, header_re=compiled.multiline_header,
                    fields=compiled.multiline_fields,
                    ts_format=compiled.multiline_ts_format)
            else:
                df = readers[source_format](spark, source_path)
            if buckets == "auto" and load_manifest(out_dir).get("n_buckets") is None:
                raise ValueError(
                    "buckets='auto' sizes from parquet metadata; pass an "
                    "explicit count for raw-text ingest (first run)")
            if hot_threshold == "auto":
                raise ValueError(
                    "hot_threshold='auto' sizes from parquet metadata; pass "
                    "an explicit count for raw-text ingest")

        # resolve the bucket count BEFORE looking at committed state:
        # bucket ids are only meaningful modulo the count that produced
        # them, so a resumed/append run must reuse the manifest's recorded
        # count. "auto" sizes from the input (rows-per-bucket invariant,
        # stages.auto_bucket_count) on the first run and reads the
        # manifest thereafter; an explicit count that contradicts the
        # manifest fails fast here rather than corrupting bucket identity.
        recorded = load_manifest(out_dir).get("n_buckets")
        if buckets == "auto":
            buckets = int(recorded) if recorded is not None \
                else stages.auto_bucket_count(spark, source_path)
        elif resume and recorded is not None and int(recorded) != int(buckets):
            raise ValueError(
                f"resume with buckets={buckets} but {out_dir} was committed "
                f"with n_buckets={recorded}; pass buckets='auto' or "
                f"buckets={recorded}"
            )

        role_dict = tool_dict = None
        if dict_dir:
            role_dict, tool_dict = _load_dicts(spark, dict_dir)

        hot: list[str] | None = None
        if hot_threshold == "auto":
            # bucket-relative (stages.hot_conv_threshold): only conversations
            # that would dominate one bucket's write task pay the salt
            # fan-out (each salted bucket costs salt_buckets files per sink)
            hot_threshold = stages.hot_conv_threshold(
                stages.input_row_count(source_path), int(buckets)
            )
        if hot_threshold is not None:
            hot = stages.detect_hot_convs(df, int(hot_threshold))

        done = committed_buckets(out_dir) if resume else set()
        pending = [b for b in range(buckets) if b not in done]
        group_sz = max(1, (len(pending) + groups - 1) // groups) if pending else 1
        bucket_groups = [pending[i : i + group_sz]
                         for i in range(0, len(pending), group_sz)]

        processed: list[int] = []
        total_rows = 0
        for gi, group in enumerate(bucket_groups):
            if fail_after_groups is not None and gi >= fail_after_groups:
                raise RuntimeError(f"injected failure before group {gi}")
            gdf = df.withColumn(
                "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int")
            )
            # partition pruning analogue: only this group's buckets are read
            # forward (with Iceberg bucket partitioning this prunes at scan)
            gdf = gdf.filter(F.col("bucket").isin(group)).drop("bucket")
            cdf = classify(
                gdf, compiled, role_dict, tool_dict,
                buckets=buckets, salt_buckets=salt_buckets, hot_convs=hot,
                engine=engine,
            )
            # single pass: ONE action writes every classified row (ignored
            # included); lineage row counts come from the written files'
            # parquet footers, conservation-checked by a write-time
            # Observation — no persist, no read-back, the parse UDF runs
            # exactly once (per-sink conv cardinality: exact on demand via
            # SinkSet.compute_sink_cardinality)
            sink = SinkSet(out_dir=out_dir, fmt=sink_format, table=sink_table)
            if any(r.spec.action == "sum" for r in compiled.rules):
                # sum rules are the one case where the grouping key is not
                # re-derivable from the payload (rendered = the VALUE), so
                # it persists — nulled for every other action, where the
                # column costs only a null bitmap bit per row
                wdf = cdf.withColumn(
                    "count_key",
                    F.when(F.col("action") == "sum", F.col("count_key")))
            else:
                # count keys are rendered == count_key by construction:
                # never write the duplicate column
                wdf = cdf.drop("count_key")
            lineage = sink.write_classified(wdf)
            if audit is not None:
                # write-audit-publish: evaluate the gate on the STAGED
                # (written, uncommitted — invisible to readers) files. A
                # raise aborts the publish: the manifest is untouched,
                # earlier committed groups stand (a fixed rerun resumes
                # past them), and this group's run dir is an orphan for
                # vacuum — the manifest analogue of dropping a WAP branch.
                from .audits import AuditFailed

                run_dir = sink._run_dir()
                if not any(
                    f.endswith(".parquet")
                    for _, _, fs in os.walk(run_dir) for f in fs
                ):
                    raise AuditFailed(
                        f"group {gi} staged ZERO files ({run_dir}) — an "
                        "audited publish of nothing is refused; pass "
                        "audit=None to commit empty groups deliberately"
                    )
                staged = spark.read.option("basePath", run_dir).parquet(run_dir)
                audit(staged)
            # buckets with zero rows still need committing
            for b in group:
                lineage.setdefault(b, {"rows": 0, "sinks": {}})
            sink.commit(lineage, extra={"group": gi, "n_groups": len(bucket_groups)},
                        n_buckets=buckets)
            processed.extend(group)
            total_rows += sum(e["rows"] for e in lineage.values())

        return RunResult(
            out_dir=out_dir,
            processed_buckets=processed,
            skipped_buckets=sorted(done),
            total_rows_processed=total_rows,
        )


def upsert(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    rules_path: str = "/root/repo/rules/default.rules",
    dict_dir: str | None = None,
    salt_buckets: int = 8,
    engine: str = "udf",
) -> dict:
    """Re-delivery path: classify NEW or REVISED conversations with the
    same compiled rules and MERGE them into an existing committed table
    at conversation granularity (``SinkSet.merge_classified`` — the
    merge-on-read ``MERGE INTO`` analogue). A re-delivered conversation
    fully replaces its earlier rows; unseen conversations are plain
    inserts. The updates land in a new delta run per touched bucket,
    which supersedes the replaced conversations' base rows; a bucket
    is rewritten whole only when its delta would outgrow its base or
    its superseded-id list would pass ``sinks.MAX_SUPERSEDED_IDS``.
    Returns the merge's result dict (``rewritten_buckets``,
    ``delta_buckets``, ``rows_deleted``, ``rows_inserted``,
    ``rows_written``).

    The updates MUST be bucketed under the table's pinned bucket space,
    so a table without a recorded ``n_buckets`` (never written by this
    pipeline) refuses rather than guessing."""
    compiled = load_rules(rules_path)
    nb = load_manifest(out_dir).get("n_buckets")
    if nb is None:
        raise ValueError(
            f"{out_dir} has no recorded n_buckets — upsert needs the "
            "pinned bucket space a pipeline.run() commit records; run the "
            "initial load first"
        )
    role_dict = tool_dict = None
    if dict_dir:
        role_dict, tool_dict = _load_dicts(spark, dict_dir)
    # the batch scans on splits sized to the re-delivery file, as a load's
    with stages.sized_splits(spark, source_path):
        df = stages.read_transcripts(spark, source_path)
        cdf = classify(
            df, compiled, role_dict, tool_dict,
            buckets=int(nb), salt_buckets=salt_buckets, engine=engine,
        )
        return SinkSet(out_dir=out_dir).merge_classified(spark, cdf)


# ---------------------------------------------------------------------------
# Report rendering (K1): the LogParse-style plain-text summary.
# ---------------------------------------------------------------------------

def render_report(
    spark: SparkSession,
    out_dir: str,
    compiled: CompiledRules,
    max_lines_per_rule: int = 20,
) -> str:
    """Driver-side render of the final summary. It reads only what it
    renders:

    - per-sink totals: a dict walk over the manifest's lineage, no
      Spark job;
    - ONE keyed pass over the count and sum rules' sinks:
      ``groupBy(rule_name, count_key)`` carrying ``n`` and, for sum
      rules only, the summed value (no other rule's payload is ever
      cast), each rule's keys ranked by one window on the score (the
      sum for sum rules, ``n`` otherwise), then ``count_key``. Ignore
      rules share one sink, so where two or more exist the same pass
      also counts that sink's rows by ``rule_name``, and each prints
      its own matches;
    - ONE sample pass over the report rules' sinks.

    Both passes filter on ``sink_id``, a partition directory, so each
    scan lists only its own sinks' files: ``unmatched`` is never read.
    Literal lists travel as single SQL expressions (``rules.spark_in``
    / ``spark_case``)."""
    from pyspark.sql.window import Window

    totals: dict[str, int] = {}
    for meta in load_manifest(out_dir)["buckets"].values():
        for sink_id, n in meta["sinks"].items():
            totals[sink_id] = totals.get(sink_id, 0) + int(n)

    ignores = [r.spec.name for r in compiled.rules if r.spec.action == "ignore"]
    keyed = [r for r in compiled.rules if r.spec.action in ("count", "sum")]
    sums = [r.spec.name for r in keyed if r.spec.action == "sum"]
    samples = [r for r in compiled.rules if r.spec.action == "report"]
    count_ignores = len(ignores) >= 2
    routed = SinkSet(out_dir=out_dir).read_routed(
        spark, with_ignored=count_ignores)

    # per-rule noise floor ("min N" in the DSL) and render cap ("top N",
    # the logwatch top-offenders shape, tightening max_lines_per_rule):
    # both shape the RENDERED summary only — routed rows and lineage
    # totals are untouched. An ignore rule's one (rule, null key) row
    # always passes.
    floors = {r.spec.name: r.spec.min_agg
              for r in keyed if r.spec.min_agg is not None}
    caps = {r.spec.name: min(r.spec.top_k, max_lines_per_rule)
            for r in keyed if r.spec.top_k is not None}
    if count_ignores:
        caps.update(dict.fromkeys(ignores, 1))

    keyed_by_rule: dict[str, list] = {}
    keyed_sinks = [r.sink_id for r in keyed] + (
        [SINK_IGNORED] if count_ignores else [])
    if keyed_sinks:
        is_sum = spark_in("rule_name", sums)
        w = Window.partitionBy("rule_name").orderBy(F.desc("score"), "count_key")
        rows = (
            routed.filter(F.expr(spark_in("sink_id", keyed_sinks)))
            .groupBy("rule_name", "count_key")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr(f"CASE WHEN {is_sum} THEN CAST(rendered AS DOUBLE) END"))
                 .alias("total"))
            .withColumn("score", F.expr(f"CASE WHEN {is_sum} THEN total ELSE n END"))
            .filter(F.col("score") >= F.expr(spark_case("rule_name", floors, 0)))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= F.expr(
                spark_case("rule_name", caps, max_lines_per_rule)))
            .collect()
        )
        for r in sorted(rows, key=lambda r: (r["rule_name"], r["rk"])):
            keyed_by_rule.setdefault(r["rule_name"], []).append(r)

    sample_by_rule: dict[str, list] = {}
    if samples:
        w = Window.partitionBy("rule_name").orderBy("conv_id", "turn_idx")
        rows = (
            routed.filter(F.expr(spark_in("sink_id", [r.sink_id for r in samples])))
            .select("rule_name", "conv_id", "turn_idx", "rendered")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= max_lines_per_rule)
            .collect()
        )
        for r in sorted(rows, key=lambda r: (r["rule_name"], r["rk"])):
            sample_by_rule.setdefault(r["rule_name"], []).append(r)

    lines = ["LogParse-Spark summary", "======================", ""]
    for rule in compiled.rules:
        n = totals.get(rule.sink_id, 0)
        if rule.spec.action == "ignore" and count_ignores:
            n = sum(r["n"] for r in keyed_by_rule.get(rule.spec.name, []))
        lines.append(f"rule {rule.spec.name} ({rule.spec.action}): {n} matches")
        if rule.spec.action == "count":
            for r in keyed_by_rule.get(rule.spec.name, []):
                lines.append(f"  {r['count_key']}: {r['n']}")
        elif rule.spec.action == "sum":
            for r in keyed_by_rule.get(rule.spec.name, []):
                total = r["total"]
                total = int(total) if total == int(total) else total
                lines.append(f"  {r['count_key']}: {total} over {r['n']}")
        elif rule.spec.action == "report":
            for r in sample_by_rule.get(rule.spec.name, []):
                lines.append(f"  {r['rendered']}")
        lines.append("")
    lines.append(f"unmatched: {totals.get('unmatched', 0)}")
    lines.append(f"ignored: {totals.get('ignored', 0)}")
    return "\n".join(lines) + "\n"
