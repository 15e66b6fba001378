"""End-to-end reference parity (SURVEY.md §5.2 layer 4 + properties).

The full Spark pipeline (bucket/salt -> Arrow UDF parse -> enrich ->
route -> aggregate) must agree with the scalar pure-pandas
"mini-LogParse" oracle on:
  - per-sink aggregate counts (BASELINE.json:14 equality target)
  - routed-row text equality under (conv_id, turn_idx) order
  - keyed COUNT tallies
"""

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logparse_spark import pipeline, stages
from logparse_spark.rules import load_rules
from logparse_spark.sinks import SinkSet, committed_buckets, load_manifest
from tests import oracle_ref

RULES = "/root/repo/rules/default.rules"
COMPILED = load_rules(RULES)


@pytest.fixture(scope="module")
def oracle(fixture_sf_small):
    pdf = pq.read_table(f"{fixture_sf_small}/transcripts.parquet").to_pandas()
    return oracle_ref.run_oracle(pdf, COMPILED)


@pytest.fixture(scope="module")
def run_out(spark, fixture_sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_out"))
    res = pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out,
        rules_path=RULES,
        dict_dir=fixture_sf_small,
        buckets=16,
        salt_buckets=4,
        groups=2,
        hot_threshold=500,
    )
    return out, res


def test_sink_counts_match_oracle(spark, run_out, oracle):
    out, res = run_out
    sink = SinkSet(out_dir=out)
    got = {
        r["sink_id"]: r["rows"]
        for r in sink.lineage_df(spark).groupBy("sink_id").agg(F.sum("rows").alias("rows")).collect()
    }
    want = dict(zip(*oracle_ref.sink_counts(oracle).T.values.tolist())) if False else {
        r.sink_id: int(r.n) for r in oracle_ref.sink_counts(oracle).itertuples()
    }
    assert got == want
    # conservation: sum over sinks == input rows (property b)
    assert sum(got.values()) == len(oracle)
    assert res.total_rows_processed == len(oracle)


def test_routed_rows_match_oracle(spark, run_out, oracle):
    out, _ = run_out
    got = (
        SinkSet(out_dir=out)
        .read_routed(spark)
        .select("sink_id", "conv_id", "turn_idx", "rendered")
        .toPandas()
        .sort_values(["sink_id", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = oracle_ref.routed_rows(oracle)
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), want.astype({"turn_idx": "int64"})
    )


def test_keyed_counts_match_oracle(spark, run_out, oracle):
    out, _ = run_out
    got = (
        stages.keyed_counts(SinkSet(out_dir=out).read_routed(spark))
        .toPandas()
        .sort_values(["rule_name", "count_key"])
        .reset_index(drop=True)
    )
    want = oracle_ref.keyed_counts(oracle)
    pd.testing.assert_frame_equal(got.astype({"n": "int64"}), want.astype({"n": "int64"}))


def test_enrichment_broadcast_join(spark, fixture_sf_small):
    df = stages.read_transcripts(spark, f"{fixture_sf_small}/transcripts.parquet")
    role_dict = spark.read.parquet(f"{fixture_sf_small}/role_dict.parquet")
    tool_dict = spark.read.parquet(f"{fixture_sf_small}/tool_dict.parquet")
    enriched = stages.enrich(df, role_dict, tool_dict)
    # unknown_role rows survive with null role_class (left join)
    unk = enriched.filter(F.col("role") == "unknown_role")
    assert unk.count() > 0
    assert unk.filter(F.col("role_class").isNotNull()).count() == 0
    # physical plan uses broadcast joins, not shuffle joins
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_resume_after_injected_failure(spark, fixture_sf_small, tmp_path_factory):
    """Property (d): kill mid-run, resume, final state identical."""
    out_a = str(tmp_path_factory.mktemp("resume_a"))
    out_b = str(tmp_path_factory.mktemp("resume_b"))
    kw = dict(
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        rules_path=RULES, buckets=8, groups=4,
    )
    # clean single run
    pipeline.run(spark, out_dir=out_a, **kw)
    # crashed run: only 2 of 4 groups commit
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run(spark, out_dir=out_b, fail_after_groups=2, **kw)
    committed_mid = committed_buckets(out_b)
    assert 0 < len(committed_mid) < 8
    # resume completes the remaining buckets only
    res = pipeline.run(spark, out_dir=out_b, **kw)
    assert set(res.skipped_buckets) == committed_mid
    assert committed_buckets(out_b) == set(range(8))
    a = (
        SinkSet(out_dir=out_a).read_routed(spark)
        .select("sink_id", "conv_id", "turn_idx", "rendered")
        .toPandas().sort_values(["sink_id", "conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        SinkSet(out_dir=out_b).read_routed(spark)
        .select("sink_id", "conv_id", "turn_idx", "rendered")
        .toPandas().sort_values(["sink_id", "conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_salted_equals_unsalted(spark, fixture_sf_small, tmp_path_factory):
    """Property (c): salting changes layout, never results."""
    outs = []
    for hot_threshold in (None, 1):  # threshold=1 -> everything salted
        out = str(tmp_path_factory.mktemp("salt"))
        pipeline.run(
            spark,
            source_path=f"{fixture_sf_small}/transcripts.parquet",
            out_dir=out, rules_path=RULES, buckets=8,
            hot_threshold=hot_threshold, salt_buckets=4,
        )
        outs.append(
            SinkSet(out_dir=out).read_routed(spark)
            .select("sink_id", "conv_id", "turn_idx", "rendered")
            .toPandas().sort_values(["sink_id", "conv_id", "turn_idx"]).reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_salting_balances_partitions(spark, fixture_sf_small):
    """X1 evidence: salting measurably caps the largest shuffle group.

    The fixture is skewed by construction (1% of conversations own
    ~50% of turns, FIXTURES.md); without salting the hottest
    (bucket, salt) group carries an entire hot conversation and that
    task straggles. With hot conversations salted across 4 sub-keys
    the max group must shrink by at least 2x."""
    df = stages.read_transcripts(spark, f"{fixture_sf_small}/transcripts.parquet")
    hot = stages.detect_hot_convs(df, threshold=200)
    assert hot, "fixture lost its skew — regenerate"

    def max_group(hot_convs):
        return (
            stages.bucket_and_salt(df, buckets=8, salt_buckets=4, hot_convs=hot_convs)
            .groupBy("bucket", "salt").count()
            .agg(F.max("count")).collect()[0][0]
        )

    unsalted, salted = max_group(None), max_group(hot)
    assert salted * 2 <= unsalted, (salted, unsalted)


def test_sql_engine_matches_udf_engine(spark, fixture_sf_small):
    """The pure-SQL dispatch alternative agrees with the Arrow UDF."""
    df = stages.read_transcripts(spark, f"{fixture_sf_small}/transcripts.parquet")
    a = (
        stages.parse_match(df, COMPILED, engine="udf")
        .select("conv_id", "turn_idx", "rule_name", "action", "sink_id", "rendered")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        stages.parse_match(df, COMPILED, engine="sql")
        .select("conv_id", "turn_idx", "rule_name", "action", "sink_id", "rendered")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_report_render(spark, run_out):
    out, _ = run_out
    txt = pipeline.render_report(spark, out, COMPILED)
    assert "rule heartbeat (ignore):" in txt
    assert "rule authfail (count):" in txt
    assert "unmatched:" in txt


def test_iceberg_branch_guards_cleanly(spark, fixture_sf_small):
    """fmt='iceberg' is code-complete but this sandbox has no Iceberg
    runtime jar (SURVEY.md M4): the branch must fail fast with a clear
    message, not deep inside py4j."""
    from logparse_spark.sinks import iceberg_available

    assert not iceberg_available(spark)  # env truth this test encodes
    df = stages.read_transcripts(spark, f"{fixture_sf_small}/transcripts.parquet")
    cdf = pipeline.classify(df, COMPILED, buckets=4, salt_buckets=2)
    sink = SinkSet(out_dir="/tmp/unused", fmt="iceberg", table="cat.db.routed")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        sink.write_classified(cdf)


def test_write_lineage_no_readback_job(spark, fixture_sf_small, tmp_path_factory):
    """Round-2 fix: lineage must NOT re-scan the written output. The
    footer-metadata + Observation path adds zero Spark jobs on top of
    the bare fan-out write — compare job counts under job groups."""
    sc = spark.sparkContext
    df = stages.read_transcripts(spark, f"{fixture_sf_small}/transcripts.parquet")
    cdf = pipeline.classify(df, COMPILED, buckets=4, salt_buckets=2)

    bare_out = str(tmp_path_factory.mktemp("bare"))
    sc.setJobGroup("bare_write", "baseline: write without lineage")
    (
        cdf.sortWithinPartitions("bucket", "sink_id", "conv_id", "turn_idx")
        .write.mode("append").partitionBy("bucket", "sink_id")
        .parquet(f"{bare_out}/runs/x")
    )
    n_bare = len(sc.statusTracker().getJobIdsForGroup("bare_write"))

    sink_out = str(tmp_path_factory.mktemp("sinked"))
    sink = SinkSet(out_dir=sink_out)
    sc.setJobGroup("lineage_write", "write_classified with lineage")
    lineage = sink.write_classified(cdf)
    n_lineage = len(sc.statusTracker().getJobIdsForGroup("lineage_write"))
    sc.setJobGroup(None, None)

    assert n_lineage == n_bare, (n_lineage, n_bare)
    # and the footer-derived counts equal a real recount of the files
    got = sum(e["rows"] for e in lineage.values())
    assert got == spark.read.parquet(f"{sink_out}/runs/{sink.run_id}").count()


def test_sink_cardinality_metrics(spark, fixture_sf_small, tmp_path_factory):
    """On-demand compute_sink_cardinality equals ground truth exactly,
    and the manifest records it as kind='exact' rows."""
    out = str(tmp_path_factory.mktemp("card"))
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out, rules_path=RULES, buckets=8,
    )
    sink = SinkSet(out_dir=out)
    computed = sink.compute_sink_cardinality(spark)
    by_kind = {"exact": {}}
    for r in sink.sink_cardinality_df(spark).collect():
        by_kind[r["kind"]][r["sink_id"]] = r["n_convs"]

    full = spark.read.parquet(f"{fixture_sf_small}/transcripts.parquet")
    from logparse_spark.stages import parse_match
    exact = {
        r["sink_id"]: r["n"]
        for r in parse_match(full, COMPILED)
        .groupBy("sink_id").agg(F.countDistinct("conv_id").alias("n")).collect()
    }
    assert set(computed) == set(exact)
    for s, n_exact in exact.items():
        # the on-demand pass is exact and lands in the manifest too
        assert computed[s] == n_exact, (s, computed[s], n_exact)
        assert by_kind["exact"][s] == n_exact, (s, by_kind["exact"][s], n_exact)


def test_default_write_observes_only_conservation(spark, fixture_sf_small,
                                                  tmp_path_factory):
    """The write pays no interpreted per-sink HLL metrics
    (BENCH/LINEAGE.md measured them at ~26% of the sf0.1 job), so the
    commit records no cardinality. A manifest written while that
    option existed still loads, and its approx entry is ignored."""
    import json

    from logparse_spark.sinks import _manifest_path

    out = str(tmp_path_factory.mktemp("nohll"))
    df = stages.read_transcripts(spark, f"{fixture_sf_small}/transcripts.parquet")
    cdf = pipeline.classify(df, COMPILED, buckets=4, salt_buckets=2)
    sink = SinkSet(out_dir=out)
    lineage = sink.write_classified(cdf)
    sink.commit(lineage)
    manifest = load_manifest(out)
    (entry,) = manifest["history"]
    assert not any(k.startswith("convs") for k in entry), entry

    entry["convs_approx"] = {"authfail": 3}
    with open(_manifest_path(out), "w") as f:
        json.dump(manifest, f)
    assert load_manifest(out)["history"][0]["convs_approx"] == {"authfail": 3}
    assert sink.sink_cardinality_df(spark).count() == 0
    assert sink.read_routed(spark).count() == sum(  # ignored rows excluded
        e["rows"] - e["sinks"].get("ignored", 0) for e in lineage.values())


def test_aggregate_partition_rows_shapes_lineage():
    """Unit check of the shared footer/Iceberg-manifest fold — the same
    helper serves the parquet-footer walk and the Iceberg
    .entries-derived lineage (sinks.py), so its shape is pinned here
    without needing the runtime jar."""
    from logparse_spark.sinks import _aggregate_partition_rows

    got = _aggregate_partition_rows([
        (0, "auth", 5), (0, "auth", 3), (0, "ignored", 2), (1, "auth", 7),
    ])
    assert got == {
        0: {"rows": 10, "sinks": {"auth": 8, "ignored": 2}},
        1: {"rows": 7, "sinks": {"auth": 7}},
    }


def test_read_routed_prunes_bucket_partitions(spark, fixture_sf_small, tmp_path_factory):
    """`bucket` is now a write-partition column: reading a committed
    subset of buckets must PRUNE directories at scan planning (the
    Iceberg bucket-partition behavior), not scan-and-filter."""
    out = str(tmp_path_factory.mktemp("prune"))
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out, rules_path=RULES, buckets=8,
    )
    sink = SinkSet(out_dir=out)
    routed = sink.read_routed(spark).filter(F.col("bucket").isin([1, 3]))
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    # pruned scan reads only the asked-for buckets' rows
    got_buckets = {r["bucket"] for r in routed.select("bucket").distinct().collect()}
    assert got_buckets <= {1, 3}


def test_auto_bucket_count_scales_with_input(spark, fixture_sf_small):
    """buckets='auto' keeps the rows-per-bucket invariant: tiny targets
    mean more (power-of-two) buckets, huge targets clamp to the
    parallelism floor, and `hi` caps the count."""
    src = f"{fixture_sf_small}/transcripts.parquet"
    small = stages.auto_bucket_count(spark, src, target_rows=10, lo=4)
    big = stages.auto_bucket_count(spark, src, target_rows=10**9, lo=4)
    assert big == 4  # floor: never fewer buckets than cores
    assert small > big
    assert small & (small - 1) == 0  # power of two (doubling-stable)
    assert stages.auto_bucket_count(spark, src, target_rows=1, lo=4, hi=64) == 64


def test_auto_buckets_recorded_and_resume_guard(spark, fixture_sf_small,
                                                tmp_path_factory):
    """The resolved auto count is pinned in the manifest; a resumed
    'auto' run reuses it (no recompute drift), and an explicit count
    that contradicts the manifest fails fast instead of scattering
    conversations across incomparable bucket ids."""
    out = str(tmp_path_factory.mktemp("autob"))
    src = f"{fixture_sf_small}/transcripts.parquet"
    res = pipeline.run(spark, source_path=src, out_dir=out, rules_path=RULES,
                       buckets="auto")
    n = load_manifest(out)["n_buckets"]
    assert len(res.processed_buckets) == n
    res2 = pipeline.run(spark, source_path=src, out_dir=out, rules_path=RULES,
                        buckets="auto")
    assert res2.processed_buckets == [] and len(res2.skipped_buckets) == n
    with pytest.raises(ValueError, match="n_buckets"):
        pipeline.run(spark, source_path=src, out_dir=out, rules_path=RULES,
                     buckets=n + 1)


def test_load_restores_the_callers_split_size(spark, fixture_sf_small,
                                             tmp_path_factory, monkeypatch):
    """``tune_scan_splits`` sizes the scan's splits for a load or an
    upsert only: afterwards the caller's session reads its own
    ``maxPartitionBytes`` again, or has the key unset if it never set
    one, also when the load or the upsert fails part-way."""
    import contextlib

    from logparse_spark.sinks import SinkSet

    src = f"{fixture_sf_small}/transcripts.parquet"
    key = stages.SPLIT_KEY
    before = spark.conf.get(key, None)
    during = []
    merge = SinkSet.merge_classified

    def upsert(out, fail):
        def recording_merge(self, spark_, cdf):
            during.append(spark.conf.get(key, None))
            if fail:
                raise RuntimeError("injected")
            return merge(self, spark_, cdf)

        monkeypatch.setattr(SinkSet, "merge_classified", recording_merge)
        with (pytest.raises(RuntimeError, match="injected") if fail
              else contextlib.nullcontext()):
            pipeline.upsert(spark, src, out, RULES)

    try:
        for caller, fail in (("2m", None), (None, None), ("2m", 0)):
            if caller is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, caller)
            during.clear()
            kw = dict(source_path=src, rules_path=RULES, buckets=2,
                      salt_buckets=2, fail_after_groups=fail,
                      out_dir=str(tmp_path_factory.mktemp("splits")),
                      audit=lambda staged: during.append(
                          spark.conf.get(key, None)))
            if fail is None:
                pipeline.run(spark, **kw)
                # the load ran on its own tuned size, not the caller's
                assert during and during[0] not in (None, caller)
                assert spark.conf.get(key, None) == caller
                # so does an upsert's batch scan, merged or failed
                for upsert_fails in (False, True):
                    during.clear()
                    upsert(kw["out_dir"], upsert_fails)
                    assert during and during[0] not in (None, caller)
                    assert spark.conf.get(key, None) == caller
            else:
                with pytest.raises(RuntimeError, match="injected"):
                    pipeline.run(spark, **kw)
            assert spark.conf.get(key, None) == caller
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_hot_threshold_is_bucket_relative(spark, fixture_sf_small,
                                          tmp_path_factory):
    """hot_threshold='auto' salts only conversations that would dominate
    one bucket's write task — the threshold tracks rows/buckets, not a
    fixed fraction of the table. The cost side it guards: every salted
    bucket writes salt_buckets files per sink (measured 8x file blowup
    at sf0.1 under the table-relative n//1000 heuristic)."""
    # pure math: fraction of the average bucket, floored
    assert stages.hot_conv_threshold(600_000, 16) == 9375        # n/B/4
    assert stages.hot_conv_threshold(600_000, 256) == 1000       # floor
    assert stages.hot_conv_threshold(10**12, 1 << 20) == 238_418  # monster-only
    # halving the bucket count doubles the threshold (same invariant)
    assert stages.hot_conv_threshold(2**30, 128) == 2 * stages.hot_conv_threshold(2**30, 256)

    # e2e: the fixture's hottest conversations (~1k turns of a 5k-row
    # table) sit far below rows/buckets/4 only when buckets is small —
    # with many buckets the auto threshold still salts them
    src = f"{fixture_sf_small}/transcripts.parquet"
    n_rows = stages.input_row_count(src)
    out = str(tmp_path_factory.mktemp("hotauto"))
    res = pipeline.run(spark, source_path=src, out_dir=out, rules_path=RULES,
                       buckets=4, hot_threshold="auto")
    assert res.total_rows_processed == n_rows
    assert sorted(res.processed_buckets) == [0, 1, 2, 3]


def _parquet_file_count(root: str) -> int:
    import os

    return sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(root)
    )


def test_routed_file_count_tracks_salt_fanout(spark, fixture_sf_small,
                                              tmp_path_factory):
    """The routed write's file count is the scale cost that salting
    trades against: unsalted, every (bucket, sink) pair is exactly one
    file (each bucket's rows land in one task); salting a bucket
    spreads it over salt_buckets tasks, which the dynamic-partition
    writer turns into up to salt_buckets files per (bucket, sink).
    Pins the mechanism the bucket-relative hot threshold exists to
    bound."""
    src = f"{fixture_sf_small}/transcripts.parquet"

    out_cold = str(tmp_path_factory.mktemp("files_cold"))
    pipeline.run(spark, source_path=src, out_dir=out_cold, rules_path=RULES,
                 buckets=4, hot_threshold=None)  # no salting
    routed = SinkSet(out_dir=out_cold)
    pairs = (
        routed.read_routed(spark).select("bucket", "sink_id").distinct().count()
    )
    n_cold = _parquet_file_count(out_cold)
    # +pairs slack for the ignored sink (not exposed via read_routed)
    assert pairs <= n_cold <= pairs + 4  # one file per (bucket, sink) pair

    out_hot = str(tmp_path_factory.mktemp("files_hot"))
    # threshold=1 marks EVERY conversation hot — worst-case fan-out
    pipeline.run(spark, source_path=src, out_dir=out_hot, rules_path=RULES,
                 buckets=4, salt_buckets=4, hot_threshold=1)
    n_hot = _parquet_file_count(out_hot)
    assert n_hot > 2 * n_cold  # salt fan-out multiplies the file count


def test_optional_group_null_capture_through_spark(spark):
    """End-to-end Spark guard for the RE2-extraction semantics fix
    (kernel._extract_groups): a non-participating optional group must
    surface as NULL in the captures array — not "" — through the
    arrow-batched UDF boundary, matching Python-re/Perl semantics."""
    from pyspark.sql import functions as F

    from logparse_spark.rules import compile_rules
    from logparse_spark.udf import with_match_captures

    rules = compile_rules(
        "rule ssh match /Failed password for (invalid user )?(\\w+)"
        " from ([\\d.]+)/ count {2}\n"
    )
    df = spark.createDataFrame(
        [
            ("c1", 0, "Failed password for invalid user eve from 9.8.7.6"),
            ("c1", 1, "Failed password for root from 1.2.3.4"),
            ("c1", 2, "no match here"),
        ],
        "conv_id string, turn_idx int, text string",
    ).withColumn("tool", F.lit(None).cast("string"))
    rows = {r["turn_idx"]: r for r in
            with_match_captures(df, rules).select("turn_idx", "captures").collect()}
    assert rows[0]["captures"] == ["invalid user ", "eve", "9.8.7.6"]
    assert rows[1]["captures"] == [None, "root", "1.2.3.4"]  # null, not ""
    assert rows[2]["captures"] is None
