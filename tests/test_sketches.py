"""Mergeable sketch aggregates (logparse_spark/sketches.py): the
pins that replace a DuckDB oracle for this operator family (register
layouts are not replayable cross-engine): EXACT merge/grain/partition
invariance of the estimates while a cell is in exact mode, the error
bound across layouts once it is in HLL mode, estimate-vs-exact error
bounds, the percentile_approx rank contract, and JVM-only
partial-aggregating plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparse_spark import sketches

EVENTS = "/root/testdata/sf0.01/events.parquet"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(EVENTS)


def test_rollup_equals_direct_build(spark, events):
    """The load-bearing property of the stored-sketch pattern: the
    estimate from MERGING finest-grain sketches equals the estimate a
    direct build at the coarser grain would produce — bit-for-bit,
    because HLL union is an element-wise register max. A dashboard can
    therefore persist (sink, day) sketches and answer every coarser
    slice without rescanning."""
    df = events.withColumn("day", F.date_trunc("day", "ts"))
    fine = sketches.hll_cardinality(df, ["event_type", "day"], "user_id")
    rolled = {r["event_type"]: r["estimate"]
              for r in sketches.hll_rollup(fine, ["event_type"]).collect()}
    direct = {r["event_type"]: r["estimate"]
              for r in sketches.hll_cardinality(
                  df, ["event_type"], "user_id").collect()}
    assert rolled == direct and len(rolled) >= 3
    # global grain: union of everything == one global build
    g_rolled = sketches.hll_rollup(fine, []).collect()[0]["estimate"]
    g_direct = sketches.hll_cardinality(
        df.withColumn("one", F.lit(1)), ["one"], "user_id"
    ).collect()[0]["estimate"]
    assert g_rolled == g_direct
    # idempotent: merging the merged sketch with itself changes nothing
    per_type = sketches.hll_rollup(fine, ["event_type"])
    twice = sketches.hll_rollup(
        per_type.unionByName(per_type), ["event_type"])
    assert {r["event_type"]: r["estimate"] for r in twice.collect()} == rolled


def test_partition_invariance(spark, events):
    """In exact mode (150 users per type, far under 2^lgk) estimates
    cannot depend on physical layout: 1 partition and 13 partitions
    build identical sketches (the aggregate's merge is the same union
    the rollup uses)."""
    a = {r["event_type"]: r["estimate"]
         for r in sketches.hll_cardinality(
             events.repartition(1), ["event_type"], "user_id").collect()}
    b = {r["event_type"]: r["estimate"]
         for r in sketches.hll_cardinality(
             events.repartition(13), ["event_type"], "user_id").collect()}
    assert a == b


def test_hll_mode_estimates_stay_within_error_across_layouts(spark,
                                                              events):
    """Once a cell leaves exact mode (~2,000 distinct ``event_id`` per
    type at lgk 12) the estimate depends on row layout, so the pin is
    the error bound, not equality: on one partition and on 13, every
    per-type estimate sits within 3 relative standard errors
    (1.04/sqrt(2^12) ~ 1.6%) of the exact distinct count."""
    rse = 1.04 / (1 << sketches.DEFAULT_LGK) ** 0.5
    exact = {r["event_type"]: r["n"]
             for r in events.groupBy("event_type")
             .agg(F.countDistinct("event_id").alias("n")).collect()}
    inexact = 0
    for layout in (events.coalesce(1), events.repartition(13)):
        est = {r["event_type"]: r["estimate"]
               for r in sketches.hll_cardinality(
                   layout, ["event_type"], "event_id").collect()}
        assert set(est) == set(exact)
        for k, n in exact.items():
            assert abs(est[k] - n) <= 3 * rse * n, (k, est[k], n)
        inexact += sum(est[k] != n for k, n in exact.items())
    assert inexact  # the cells really are past exact mode


def test_estimate_error_bound(spark, events):
    """Estimates stay within the configured error envelope of the
    exact distinct (~1.04/sqrt(2^lgk) rsd; generous 5-sigma-ish slack
    keeps the pin fixture-robust — at this cardinality the sketch is
    typically still in exact mode anyway)."""
    exact = {r["event_type"]: r["n"]
             for r in events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    est = {r["event_type"]: r["estimate"]
           for r in sketches.hll_cardinality(
               events, ["event_type"], "user_id").collect()}
    assert set(exact) == set(est)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 0.08 * n), (k, est[k], n)


def test_quantiles_rank_contract(spark, events):
    """percentile_approx guarantees RANK error <= n/accuracy: verify
    the returned value's true rank against exact sorted values for
    every group and quantile."""
    acc = 100
    got = sketches.quantiles_approx(
        events, ["event_type"], "value", qs=(0.5, 0.95), accuracy=acc
    ).collect()
    vals = {}
    for r in events.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for r in got:
        xs = sorted(vals[r["event_type"]])
        n = len(xs)
        assert r["n"] == n
        for q, col in ((0.5, "q5"), (0.95, "q95")):
            v = r[col]
            lo = sum(1 for x in xs if x < v)      # lowest possible rank
            hi = sum(1 for x in xs if x <= v)     # highest possible rank
            target = q * n
            assert lo - n / acc - 1 <= target <= hi + n / acc + 1, (
                r["event_type"], q, v, lo, hi, target)


def test_sink_day_cardinality_matches_exact(spark, fixture_sf_small,
                                            tmp_path):
    """The routed-table instance: per-sink rolled-up estimates agree
    with exact per-sink distinct conversations over the same frame
    (small table -> sketch still exact-mode), and 'ignored' stays
    excluded like the dashboard view."""
    from logparse_spark import pipeline
    from logparse_spark.sinks import SinkSet

    out = str(tmp_path / "t")
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out, rules_path="/root/repo/rules/default.rules",
        dict_dir=fixture_sf_small, buckets=8, salt_buckets=2, groups=1,
    )
    routed = SinkSet(out_dir=out).read_routed(spark)
    day = sketches.sink_day_cardinality(routed)
    est = {r["sink_id"]: r["estimate"]
           for r in sketches.hll_rollup(day, ["sink_id"]).collect()}
    exact = {r["sink_id"]: r["n"]
             for r in routed.filter(F.col("sink_id") != "ignored")
             .groupBy("sink_id")
             .agg(F.countDistinct("conv_id").alias("n")).collect()}
    assert set(est) == set(exact) and "ignored" not in est
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 0.08 * n), (k, est[k], n)


def test_plans_jvm_only_partial_agg(spark, events):
    """Both sketch aggregates must plan as JVM partial-aggregating
    ObjectHashAggregate pairs (map-side combine emits SKETCHES across
    the exchange, never raw keys) with no Python anywhere."""
    for df in (
        sketches.hll_cardinality(events, ["event_type"], "user_id"),
        sketches.hll_rollup(
            sketches.hll_cardinality(
                events, ["event_type"], "user_id"), []),
        sketches.quantiles_approx(events, ["event_type"], "value"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert "ObjectHashAggregate" in plan, plan
        assert "partial" in plan.lower(), plan


def test_golden_values(spark, events):
    """Exact estimates on the committed sf0.01 events fixture (lgk 12):
    the other pins here are invariances and error bounds, which a
    Spark or DataSketches upgrade that changes the sketch's estimator
    or percentile_approx's summary would still pass — this one fails
    on any moved value. user_id (150 per type) stays in the sketch's
    exact mode; event_id (~2k per type) is in HLL mode, whose estimate
    depends on row order, so it is pinned on one partition in file
    order."""
    def hll(df, col):
        return {r["event_type"]: r["estimate"]
                for r in sketches.hll_cardinality(
                    df, ["event_type"], col).collect()}

    assert hll(events, "user_id") == dict.fromkeys(
        ["click", "error", "purchase", "signup", "view"], 150)
    assert hll(events.coalesce(1), "event_id") == {
        "click": 2005, "error": 2008, "purchase": 1959, "signup": 2002,
        "view": 1957}
    qs = {r["event_type"]: (r["q5"], r["q95"])
          for r in sketches.quantiles_approx(
              events, ["event_type"], "value", qs=(0.5, 0.95)).collect()}
    assert qs == {"click": (35.28, 152.04), "error": (34.38, 143.52),
                  "purchase": (33.95, 142.5), "signup": (35.92, 151.77),
                  "view": (33.83, 143.8)}
