"""Physical-plan regression tests (SURVEY.md §4).

These lock in the optimizer properties the engine's scale story
depends on; a regression here is a silent 2-10x slowdown at 100 TB
even though results stay correct:

- exactly ONE ArrowEvalPython stage per job (no duplicated parse)
- column pruning reaches the parquet scan (ReadSchema minimal)
- native pre-parse filters are pushed into the scan (PushedFilters)
- dictionary enrichment uses broadcast hash joins, never a shuffle
  (SortMergeJoin/ShuffledHashJoin) for the small side
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logparse_spark import stages
from logparse_spark.rules import load_rules

RULES = "/root/repo/rules/default.rules"


@pytest.fixture(scope="module")
def tpath(fixture_sf_small):
    return os.path.join(fixture_sf_small, "transcripts.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_udf_eval_under_filter_and_agg(spark, tpath):
    """A filter on a UDF output must not duplicate the parse stage."""
    df = stages.read_transcripts(spark, tpath)
    cdf = stages.parse_match(df, load_rules(RULES))
    agg = stages.sink_counts(stages.routed(cdf))
    assert _plan(agg).count("ArrowEvalPython") == 1


def test_column_pruning_reaches_scan(spark, tpath):
    """dispatch needs text/tool (+ids); the scan must not read role/ts."""
    df = stages.read_transcripts(spark, tpath)
    cdf = stages.parse_match(df, load_rules(RULES)).select("sink_id")
    plan = _plan(cdf)
    scan_line = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "text" in scan_line and "tool" in scan_line
    assert "role" not in scan_line and "conv_id" not in scan_line


def test_native_filter_pushed_down(spark, tpath):
    """Cheap native predicates run before the UDF and reach the scan."""
    df = stages.read_transcripts(spark, tpath).filter(F.col("role") == "user")
    cdf = stages.parse_match(df, load_rules(RULES))
    plan = _plan(cdf)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan


def test_enrich_uses_broadcast_join(spark, tpath, fixture_sf_small):
    role_dict = spark.read.parquet(os.path.join(fixture_sf_small, "role_dict.parquet"))
    tool_dict = spark.read.parquet(os.path.join(fixture_sf_small, "tool_dict.parquet"))
    df = stages.read_transcripts(spark, tpath)
    cdf = stages.parse_match(df, load_rules(RULES))
    en = stages.enrich(cdf, role_dict, tool_dict)
    plan = _plan(en)
    assert plan.count("BroadcastHashJoin") >= 2  # role + tool
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_sql_engine_whole_stage_codegen(spark, tpath):
    """The pure-SQL dispatch must stay inside whole-stage codegen."""
    df = stages.read_transcripts(spark, tpath)
    cdf = stages.parse_match(df, load_rules(RULES), engine="sql")
    plan = _plan(cdf)
    assert "*(1)" in plan  # whole-stage-codegen star marker
    assert "ArrowEvalPython" not in plan


def test_redact_prunes_and_stays_in_codegen(spark):
    """redact reads only 3 of 6 columns and never leaves the JVM."""
    from logparse_spark import queries

    df = queries.q_redact(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    scan_line = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "text" in scan_line and "conv_id" in scan_line
    assert "role" not in scan_line and "tool" not in scan_line
    assert "EvalPython" not in plan
    assert "*(1)" in plan  # whole-stage codegen


def test_anti_join_is_broadcast(spark):
    """users_no_purchase must anti-join via broadcast, never a
    shuffled/sort-merge join of the big event stream."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_users_no_purchase(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_uses_expand_single_pass(spark):
    """ROLLUP compiles to one Expand + hash aggregate, not one
    aggregation pass per grouping set."""
    from logparse_spark import queries

    plan = _plan(queries.q_rollup_counts(spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan
    assert plan.count("ArrowEvalPython") == 1  # the single parse stage


def test_ann_ivf_no_cartesian_product(spark):
    """Centroids and probe cells are broadcast; the vector table must
    never be cartesian-joined."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_ann_ivf(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan


def test_tfidf_topk_no_global_sort(spark):
    """Global top-30 must be TakeOrderedAndProject (per-partition top-k
    + driver merge), never a full Sort of the term table."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_tfidf_terms(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_conv_profile_partial_agg_no_window(spark):
    """min_by/max_by keep first/last inside the aggregate buffer: no
    Window operator, and the aggregation is partial+final (the shuffle
    carries ~one row per (conv, map partition), not every turn the way
    a first_value window would)."""
    from logparse_spark import queries

    plan = _plan(queries.q_conv_profile(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan


def test_cube_uses_expand_single_pass(spark):
    """CUBE compiles to one Expand + hash aggregate like ROLLUP."""
    from logparse_spark import queries

    plan = _plan(queries.q_cube_counts(spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan
    assert "EvalPython" not in plan  # raw-scan query, no parse stage


def test_pivot_single_parse_single_aggregate_pass(spark):
    """Explicit-value pivot is ONE aggregation over the routed frame —
    no per-role scan fan-out and only the one parse stage."""
    from logparse_spark import queries

    plan = _plan(queries.q_pivot_roles(spark, "/root/testdata/sf0.001"))
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("FileScan parquet") == 1


def test_raw_jsonl_stays_in_codegen(spark):
    """JSON source parse is all JVM expressions — no Python stage."""
    from logparse_spark import queries

    plan = _plan(queries.q_raw_jsonl(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    assert "FileScan json" in plan


def test_asof_join_is_window_not_join(spark):
    """The as-of composition must compile to ONE window over the event
    stream — no join operator of any kind (the naive formulation is a
    range self-join)."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_asof_clicks(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan
    assert "Join" not in plan, plan


def test_range_join_is_equi_join(spark):
    """The banded range join must be a hash equi-join — never a
    cartesian/nested-loop theta join."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_range_join_events(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan


def test_one_shuffle_in_pipeline_plan(spark, tpath, fixture_sf_small):
    """classify = scan -> ONE repartition exchange -> parse -> broadcast
    enrich; no second full-data exchange before the sinks."""
    from logparse_spark import pipeline

    role_dict = spark.read.parquet(os.path.join(fixture_sf_small, "role_dict.parquet"))
    tool_dict = spark.read.parquet(os.path.join(fixture_sf_small, "tool_dict.parquet"))
    df = stages.read_transcripts(spark, tpath)
    cdf = pipeline.classify(df, load_rules(RULES), role_dict, tool_dict)
    plan = _plan(cdf)
    # broadcast exchanges excluded; only the explicit bucket repartition
    n_shuffle = sum(
        1 for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange RoundRobin" in ln
    )
    assert n_shuffle == 1, plan


def test_dispatch_captures_single_python_stage(spark):
    """The captures UDF must stay ONE Python stage (the
    asNondeterministic dedup barrier)."""
    from logparse_spark import queries

    plan = _plan(queries.q_dispatch_captures(spark, "/root/testdata/sf0.001"))
    assert plan.count("EvalPython") == 1, plan
    assert "SortMergeJoin" not in plan


def test_minhash_pairgen_star_linear(spark):
    """Round-2 shape: star pairing = bands equi-joined to the per-bucket
    MIN aggregate. Output is linear in the input (df-1 pairs per bucket)
    so the only acceptable join is a hash equi-join on (b, k) — never a
    nested-loop/cartesian, and never a bands-to-bands self-join (which
    would be O(df^2) on a hot boilerplate key)."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_minhash_lsh(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan, plan          # bucket-min aggregate
    assert "HashJoin" in plan, plan             # equi-join on (b, k)
    # exactly one join: bands->mins attach; a second would be all-pairs
    assert plan.count("Join") == 1, plan


def test_enrich_lookup_single_parse_broadcast_only(spark):
    """The merged two-dimension lookup still parses ONCE (only the role
    branch needs classification) and joins are broadcast-only."""
    from logparse_spark import queries

    plan = _plan(queries.q_enrich_lookup(spark, "/root/testdata/sf0.001"))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_jaccard_df_cap_is_broadcast_anti(spark):
    """The hot-shingle filter must be a broadcast anti join on the tiny
    over-cap key set, never a shuffle of the full inverted index."""
    from logparse_spark import corpus

    plan = _plan(corpus.q_jaccard_pairs(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan


from conftest import scan_num_files as _scan_num_files  # noqa: E402


def test_ann_index_probe_prunes_partitions(spark, tmp_path):
    """Round-3 fix: the ANN index is PERSISTED partitionBy(t, bucket)
    and a probe workload must touch only its probed (t, bucket)
    directories — PartitionFilters at plan time AND a strictly pruned
    numFiles scan metric at runtime (at 100 TB this is the difference
    between reading ~n_tables*|masks|/64 of the index and a full
    scan). Same check for the IVF cell layout."""
    import re

    from logparse_spark import corpus

    sf = "/root/testdata/sf0.001"
    idx = corpus.build_ann_index(spark, sf, str(tmp_path / "annidx"), n_tables=2)

    def count_files(sub_dir):
        return len([
            f for r, _, fs in os.walk(os.path.join(idx, sub_dir))
            for f in fs if f.endswith(".parquet")
        ])

    df = corpus.ann_search(
        spark, sf, "lsh", query_ids=[1, 2], k=5, n_tables=2,
        probe_radius=1, index_dir=idx,
    )
    plan = _plan(df)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "bucket" in pf.group(1) and "t" in pf.group(1), plan

    n_read = _scan_num_files(df, "annidx")
    n_all = count_files("lsh")
    # <= 2 queries x 2 tables x 7 masks = 28 probed dirs of 2*64
    assert 0 < n_read <= 28 < n_all, (n_read, n_all)

    # results identical to the on-the-fly derivation (index adds
    # pruning, never changes answers)
    on_the_fly = corpus.ann_search(
        spark, sf, "lsh", query_ids=[1, 2], k=5, n_tables=2, probe_radius=1,
    )
    assert sorted(map(tuple, df.collect())) == \
        sorted(map(tuple, on_the_fly.collect()))

    ivf = corpus.ann_search(
        spark, sf, "ivf", query_ids=[0], k=5, nprobe=2, index_dir=idx,
    )
    pf2 = re.search(r"PartitionFilters: \[([^\]]*)\]", _plan(ivf))
    assert pf2 and "cell" in pf2.group(1), _plan(ivf)
    n_ivf_read = _scan_num_files(ivf, "annidx")
    assert 0 < n_ivf_read < count_files("ivf"), n_ivf_read
    base = corpus.ann_search(spark, sf, "ivf", query_ids=[0], k=5, nprobe=2)
    assert sorted(map(tuple, ivf.collect())) == \
        sorted(map(tuple, base.collect()))


def test_registry_wide_no_cartesian_no_row_python(spark):
    """Sweeping guard over the ENTIRE driver registry: none of the 50
    surfaced queries may plan a CartesianProduct (quadratic at any
    scale) or a BatchEvalPython stage (row-at-a-time Python — the
    north rule mandates vectorized Arrow UDFs only). Individual plan
    tests above pin specific shapes; this one makes the property hold
    for every FUTURE registry entry by default.

    BroadcastNestedLoopJoin is allowed ONLY on a pinned allowlist of
    queries whose broadcast side is a constant-size probe/scalar frame
    (ANN's K query vectors; TF-IDF's 1-row corpus size) — cost is
    n_rows x K, linear. Streaming-backed entries are skipped (they
    drain a stream on build; their batch output plan is a scan).
    """
    from logparse_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")
    bnlj_ok = {"ann_bucketed", "ann_cosine", "tfidf_terms"}
    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(all_queries().items()):
        if name.startswith("stream_"):
            continue
        plan = _plan(fn(spark, sf))
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


# -- merge-on-read upserts ---------------------------------------------


@pytest.fixture()
def layered_table(spark, fixture_sf_small, tmp_path):
    """A committed 4-bucket table plus a helper that merges classified
    rows ({conv_id: n_turns}) straight through merge_classified — a
    frame with no join of its own, so every join in an executed plan
    would be the merge's."""
    import datetime

    from logparse_spark import pipeline
    from logparse_spark.sinks import SinkSet

    out = str(tmp_path / "t")
    pipeline.run(spark, f"{fixture_sf_small}/transcripts.parquet", out,
                 RULES, buckets=4)
    ts = datetime.datetime(2026, 3, 3)

    def merge(convs):
        cdf = spark.createDataFrame(
            [(c, j, "assistant", ts, 0, "authfail", "count", "plan")
             for c, n in convs.items() for j in range(n)],
            "conv_id string, turn_idx int, role string, ts timestamp_ntz, "
            "rule_id int, rule_name string, action string, rendered string",
        ).select(
            F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
            .alias("bucket"),
            F.lit("authfail").alias("sink_id"), "*")
        return SinkSet(out_dir=out).merge_classified(spark, cdf)

    return out, merge


def test_merge_into_layered_table_runs_no_join(spark, layered_table):
    """An upsert into an already-layered table plans no join: the
    executed plans of every SQL execution it ran (batch count,
    matched count, delta write) hold no join operator. And the new
    delta run's footers hold exactly the inserted rows plus the old
    delta's surviving rows."""
    from logparse_spark.sinks import SinkSet, load_manifest

    out, merge = layered_table
    first = merge({"convPLAN01": 3, "convPLAN02": 2})
    assert first["delta_buckets"] and not first["rewritten_buckets"]
    before = load_manifest(out)["buckets"]

    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters

    def exec_ids():
        return {int(e.executionId()): e
                for e in conv.asJava(store.executionsList())}

    seen = set(exec_ids())
    res = merge({"convPLAN01": 4})
    new = {i: e for i, e in exec_ids().items() if i not in seen}
    assert new
    for e in new.values():
        assert "Join" not in e.physicalPlanDescription(), \
            e.physicalPlanDescription()

    (b,) = res["delta_buckets"]
    old = before[str(b)]
    # convPLAN01's 3 old delta rows are superseded; the rest survive
    surviving = sum(old["delta_sinks"].values()) - 3
    footers = SinkSet(out_dir=out, run_id=load_manifest(out)["buckets"][
        str(b)]["delta_run_id"])._lineage_from_footers()
    assert footers[b]["rows"] == res["rows_written"] == 4 + surviving


def test_lookup_on_recorded_schema_runs_no_job(spark, layered_table,
                                               spark_jobs):
    """Every run records its written schema and the bucket hash runs
    on the driver, so planning a read runs no Spark job: a lookup (of
    an id in the delta layer or in the base layer), a 51-id export, a
    time-range read and the bucket hash a delete plans with each run
    none before their action. A run without the record (written before
    it existed) falls back to schema inference, one job."""
    import os

    from logparse_spark import sinks
    from logparse_spark.sinks import RUN_META_FILE, SinkSet, load_manifest

    out, merge = layered_table
    merge({"convPLAN01": 3})
    ids = [r["conv_id"] for r in SinkSet(out_dir=out)._read_committed(spark)
           .select("conv_id").distinct().orderBy("conv_id").limit(50)
           .collect()] + ["convPLAN01"]
    nb = load_manifest(out)["n_buckets"]

    def planning_jobs(read):
        return len(spark_jobs(lambda: read(SinkSet(out_dir=out))))

    cases = [
        ("plan-convPLAN01", lambda ss: ss.read_conversation(
            spark, "convPLAN01"), 0),
        ("plan-conv000001", lambda ss: ss.read_conversation(
            spark, "conv000001"), 0),
        ("plan-export", lambda ss: ss.read_conversations(spark, ids), 0),
        ("plan-timerange", lambda ss: ss.read_time_range(
            spark, "2026-01-01 02:00", "2026-01-01 05:00"), 0),
        ("plan-delete-hash", lambda ss: sinks._bucket_ids(ids, nb), 0),
    ]
    for group, read, want in cases:
        assert planning_jobs(read) == want, group
    for meta in load_manifest(out)["buckets"].values():
        p = os.path.join(out, "runs", meta["run_id"], RUN_META_FILE)
        if os.path.exists(p):
            os.remove(p)
    assert planning_jobs(lambda ss: ss.read_conversation(
        spark, "conv000001")) == 1


# -- reads of small sink files ---------------------------------------------


@pytest.fixture(scope="module")
def salted_table(spark, fixture_sf_small, tmp_path_factory):
    """A 2-bucket table with every conversation salted over 4 write
    tasks, so each (bucket, sink) holds up to 4 small files whose
    conv_id bounds span the bucket: a lookup, an export and a time
    range each plan more files than the session has cores. Returns the
    table dir and 50 of its conv ids."""
    from logparse_spark import pipeline
    from logparse_spark.sinks import SinkSet

    out = str(tmp_path_factory.mktemp("salted") / "t")
    pipeline.run(spark, f"{fixture_sf_small}/transcripts.parquet", out,
                 RULES, buckets=2, salt_buckets=4, hot_threshold=1)
    ids = [r["conv_id"] for r in SinkSet(out_dir=out)._read_committed(spark)
           .select("conv_id").distinct().orderBy("conv_id").limit(50)
           .collect()]
    return out, ids


def test_reads_pack_small_files_into_one_split_per_core(spark, salted_table):
    """A read's cost is per task, so the session sets no split size of
    its own and Spark's bin-packing folds a read's small sink files
    into at most one scan split per core. Any split size under the 4 MB
    file open cost would make every file its own task."""
    from conftest import file_scans, planned_files
    from logparse_spark.sinks import SinkSet

    out, ids = salted_table
    ss = SinkSet(out_dir=out)
    cores = spark.sparkContext.defaultParallelism
    reads = {
        "lookup": ss.read_conversation(spark, ids[3]),
        "export": ss.read_conversations(spark, ids),
        "timerange": ss.read_time_range(
            spark, "2026-01-01 02:00", "2026-01-01 05:00"),
    }
    for name, df in reads.items():
        assert len(planned_files(df)) > cores, name
        (scan,) = file_scans(df)
        assert scan.inputRDD().getNumPartitions() <= cores, name


def test_empty_pruned_read_runs_no_python_rdd(spark, salted_table,
                                              spark_jobs):
    """Where every planned file's bounds exclude the predicate, the
    read is a schema-only frame that Catalyst folds to an empty
    relation: counting it runs at most one job and no Python RDD (an
    empty ``createDataFrame`` runs two Python-RDD jobs), and it has the
    columns and types, partition columns last, of a read that returns
    rows."""
    from conftest import python_rdd_jobs
    from logparse_spark.sinks import SinkSet

    out, ids = salted_table
    ss = SinkSet(out_dir=out)
    rows = ss.read_time_range(spark, "2026-01-01 02:00", "2026-01-01 05:00")
    assert rows.count() > 0
    for empty in (ss.read_time_range(spark, "2030-01-01", "2030-01-02"),
                  ss.read_conversations(spark, ["~after-every-id"])):
        n = []
        jobs = spark_jobs(lambda: n.append(empty.count()))
        assert n == [0]
        assert len(jobs) <= 1 and python_rdd_jobs(spark, jobs) == [], jobs
        assert empty.dtypes == rows.dtypes
        assert [c for c, _ in empty.dtypes][-2:] == ["bucket", "sink_id"]


# -- the report and the load ----------------------------------------------


@pytest.fixture(scope="module")
def report_table(spark, fixture_sf_small, tmp_path_factory):
    """A table written under default.rules plus a second ignore rule:
    ignore rules share the ignored sink, so a report under these rules
    must count that sink by rule_name."""
    from pathlib import Path

    from logparse_spark import pipeline

    root = tmp_path_factory.mktemp("report_plans")
    rules = root / "two_ignore.rules"
    rules.write_text(Path(RULES).read_text() +
                     "rule hbextra match /^heartbeat ping seq=\\d+ extra$/ ignore\n")
    out = str(root / "t")
    pipeline.run(spark, f"{fixture_sf_small}/transcripts.parquet", out,
                 str(rules), buckets=4)
    return out, str(rules)


def _report_plans(spark, monkeypatch, spark_jobs, out, rules):
    """Render the report; return its job ids and the files its scans
    planned (every frame it collected)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from conftest import planned_files
    from logparse_spark import pipeline

    frames = []
    collect = DataFrame.collect

    def recording_collect(df):
        frames.append(df)
        return collect(df)

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    jobs = spark_jobs(lambda: pipeline.render_report(
        spark, out, load_rules(rules)))
    monkeypatch.undo()
    return jobs, [f for df in frames for f in planned_files(df)]


@pytest.mark.parametrize("two_ignores", [False, True])
def test_report_scans_only_the_sinks_it_renders(
        spark, monkeypatch, spark_jobs, report_table, two_ignores):
    """The report takes its totals from the manifest, so it runs no
    Python-RDD job (a ``createDataFrame`` of the lineage ran one). Its
    scans are partition-pruned on sink_id: no file under
    ``sink_id=unmatched`` is planned, and ``sink_id=ignored`` only
    where two or more ignore rules need per-rule counts."""
    from conftest import python_rdd_jobs

    out, two_ignore_rules = report_table
    rules = two_ignore_rules if two_ignores else RULES
    jobs, files = _report_plans(spark, monkeypatch, spark_jobs, out, rules)
    assert jobs and python_rdd_jobs(spark, jobs) == []
    sinks = {f.split("/sink_id=")[1].split("/")[0] for f in files}
    assert sinks == {"authfail", "error", "toolcall"} | (
        {"ignored"} if two_ignores else set()), sinks


def test_load_runs_no_python_rdd_job(spark, spark_jobs, tmp_path):
    """Rule metadata is a literal CASE on rule_id, not a broadcast join
    of a ``createDataFrame``'d rule table: a 20k-turn load (bench.rules,
    dictionaries, auto buckets and hot threshold) runs no Python-RDD
    job, and 9 jobs in all where the join made it 10."""
    import pyarrow.parquet as pq

    from conftest import python_rdd_jobs
    from logparse_spark import pipeline
    from logparse_spark.fixtures.gen_transcripts import (
        gen_role_dict, gen_tool_dict, gen_transcripts)

    for d in ("in", "dict"):
        (tmp_path / d).mkdir()
    pq.write_table(gen_transcripts(20_000, 1_000, seed=3),
                   str(tmp_path / "in" / "part-0.parquet"),
                   row_group_size=20_000)
    pq.write_table(gen_role_dict(), str(tmp_path / "dict" / "role_dict.parquet"))
    pq.write_table(gen_tool_dict(), str(tmp_path / "dict" / "tool_dict.parquet"))
    jobs = spark_jobs(lambda: pipeline.run(
        spark, str(tmp_path / "in"), str(tmp_path / "t"),
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "rules", "bench.rules"),
        str(tmp_path / "dict"),
        buckets="auto", hot_threshold="auto"))
    assert python_rdd_jobs(spark, jobs) == []
    assert len(jobs) == 9, jobs
