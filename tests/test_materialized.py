"""Incrementally-maintained materialized aggregate
(materialized.SinkDailyCounts): refresh() absorbs only the snapshots
since its watermark through the signed change feed — appends, merges,
deletes and compactions alike — equals a full recompute at every
point, and re-baselines with ONE full pass where the feed cannot
answer (a rollback, a vacuumed run, a reset table)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from logparse_spark import materialized, pipeline
from logparse_spark.sinks import SinkSet

RULES = "/root/repo/rules/default.rules"


@pytest.fixture(scope="module")
def committed_run(spark, fixture_sf_small, tmp_path_factory):
    """4 commit groups -> 4 append snapshots. READ-ONLY."""
    out = str(tmp_path_factory.mktemp("mv_table"))
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out, rules_path=RULES, dict_dir=fixture_sf_small,
        buckets=8, salt_buckets=2, groups=4,
    )
    return out


def _truth(spark, table):
    return {
        (r["sink_id"], str(r["day"])): r["n"]
        for r in SinkSet(out_dir=table).read_routed(spark)
        .groupBy("sink_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _view(spark, mv):
    return {(r["sink_id"], str(r["day"])): r["n"]
            for r in mv.read(spark).collect()}


def test_incremental_refresh_equals_truth(spark, committed_run, tmp_path):
    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    with pytest.raises(FileNotFoundError):
        mv.read(spark)
    # first refresh = full baseline over the 4 append snapshots
    assert mv.refresh(spark)["mode"] == "full"
    assert _view(spark, mv) == _truth(spark, table)
    # nothing new -> noop
    assert mv.refresh(spark)["mode"] == "noop"

    # new append snapshot (compaction is a rewrite and contributes no
    # delta rows; use it to prove changes()-skip semantics instead)
    SinkSet(out_dir=table).compact(spark, min_files_per_partition=1)
    res = mv.refresh(spark)
    assert res["mode"] == "incremental"
    assert _view(spark, mv) == _truth(spark, table)


def test_baseline_midway_then_incremental_tail(spark, committed_run, tmp_path):
    """Baseline the view at snapshot 1 of 3, then refresh: only the
    tail snapshots are read incrementally and the result equals the
    full truth."""
    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    # manufacture a mid-history watermark: full refresh, then rewind
    # the state as if only snapshot 1 had been absorbed, rebuilding
    # the data dir from a time-traveled read
    ss = SinkSet(out_dir=table)
    early = materialized.SinkDailyCounts._aggregate(
        ss.read_routed(spark, as_of=1))
    import os
    os.makedirs(mv.view_dir, exist_ok=True)
    early.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(mv.view_dir, "vearly"))
    materialized._atomic_write_json(
        mv._state_path(), {"snapshot": 1, "data": "vearly"})

    assert mv.refresh(spark)["mode"] == "incremental"
    assert _view(spark, mv) == _truth(spark, table)


def test_row_modification_rebaselines(spark, committed_run, tmp_path):
    """A delete rides the feed (its rows count -1); a rollback does
    not, so the refresh across it re-baselines."""
    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    mv.refresh(spark)
    before = _truth(spark, table)
    pre = len(SinkSet(out_dir=table).snapshots()) - 1
    victim = SinkSet(out_dir=table)._read_committed(spark) \
        .select("conv_id").first()["conv_id"]
    SinkSet(out_dir=table).delete_conversations(spark, [victim])
    res = mv.refresh(spark)
    assert res["mode"] == "incremental"
    assert _view(spark, mv) == _truth(spark, table) != before
    SinkSet(out_dir=table).rollback(pre)
    res = mv.refresh(spark)
    assert res["mode"] == "full"  # the feed crossed the rollback
    assert _view(spark, mv) == _truth(spark, table) == before


def test_refresh_after_vacuum_rebaselines(spark, fixture_sf_small, tmp_path):
    """A watermark older than a run vacuum removed: the feed cannot
    read that snapshot, so the refresh re-baselines with one full
    recompute instead of raising."""
    table = str(tmp_path / "t")
    kw = dict(source_path=f"{fixture_sf_small}/transcripts.parquet",
              out_dir=table, rules_path=RULES, buckets=4, groups=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run(spark, fail_after_groups=1, **kw)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    assert mv.refresh(spark) == {"mode": "full", "snapshot": 0}
    pipeline.run(spark, **kw)  # resume
    assert SinkSet(out_dir=table).compact(
        spark, min_files_per_partition=1)["rewritten_buckets"]
    assert SinkSet(out_dir=table).vacuum(min_age_minutes=0)
    assert mv.refresh(spark)["mode"] == "full"
    assert _view(spark, mv) == _truth(spark, table)


def test_superseded_version_retained_then_swept(spark, committed_run,
                                                tmp_path):
    """The swap keeps the previous version dir for the grace window
    (an in-flight reader of the old pointer must finish), and a later
    refresh sweeps versions past the window."""
    import os

    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    mv.refresh(spark)
    v1 = mv._state()["data"]
    old_df = mv.read(spark)  # reader holding the v1 pointer
    SinkSet(out_dir=table).compact(spark, min_files_per_partition=1)
    mv.refresh(spark)
    v2 = mv._state()["data"]
    assert v2 != v1
    # v1 survives the swap (default 30-min grace) and stays readable
    assert os.path.isdir(os.path.join(mv.view_dir, v1))
    assert old_df.count() > 0
    # age-out: with a zero grace window the next refresh sweeps v1
    mv.min_age_minutes = 0.0
    mv.refresh(spark)  # noop refresh still sweeps
    assert not os.path.isdir(os.path.join(mv.view_dir, v1))
    assert os.path.isdir(os.path.join(mv.view_dir, v2))


def test_table_reset_rebaselines_not_crashes(spark, committed_run,
                                             fixture_sf_small, tmp_path):
    """A table recreated under the same view dir leaves the watermark
    past the snapshot log; refresh must degrade to one full recompute
    (re-baselining the watermark), not raise on every call."""
    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    mv.refresh(spark)
    assert mv._state()["snapshot"] >= 1  # watermark past snapshot 0
    # recreate the table with a SHORTER history (1 commit group):
    # the stale watermark now points past the new snapshot log
    shutil.rmtree(table)
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=table, rules_path=RULES, dict_dir=fixture_sf_small,
        buckets=8, salt_buckets=2, groups=1,
    )
    res = mv.refresh(spark)
    assert res["mode"] == "full"
    assert res["snapshot"] == 0
    assert _view(spark, mv) == _truth(spark, table)
    # and the re-baselined view resumes incrementally from there
    SinkSet(out_dir=table).compact(spark, min_files_per_partition=1)
    assert mv.refresh(spark)["mode"] == "incremental"
    assert _view(spark, mv) == _truth(spark, table)


def test_supersede_clock_not_write_mtime(spark, committed_run, tmp_path):
    """The grace window runs from SUPERSEDE time: a version written
    long ago must still survive the swap that replaces it (its mtime
    is re-stamped at the swap)."""
    import os
    import time as _time

    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    mv.refresh(spark)
    v1 = mv._state()["data"]
    v1_path = os.path.join(mv.view_dir, v1)
    # simulate a long gap between refreshes: v1 was WRITTEN 2h ago
    old = _time.time() - 7200
    os.utime(v1_path, (old, old))
    SinkSet(out_dir=table).compact(spark, min_files_per_partition=1)
    mv.refresh(spark)  # swaps to v2, sweeps with default 30-min grace
    assert mv._state()["data"] != v1
    # under the old write-mtime clock v1 would be gone already
    assert os.path.isdir(v1_path)


def test_refresh_across_merges(spark, committed_run, tmp_path):
    """Merges ride the feed: one merge, a replay of the same batch
    (its rows delete and re-insert, a zero change), and a view two
    merges behind all refresh incrementally to the truth."""
    import datetime

    from logparse_spark.rules import load_rules
    from logparse_spark.sinks import load_manifest

    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    mv.refresh(spark)

    victim = SinkSet(out_dir=table)._read_committed(spark) \
        .select("conv_id").first()["conv_id"]
    cdf = pipeline.classify(
        spark.createDataFrame(
            [(victim, 0, "assistant",
              "login failed for user mvd from 9.9.9.9", None,
              datetime.datetime(2026, 5, 1))],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"),
        load_rules(RULES), None, None,
        buckets=int(load_manifest(table)["n_buckets"]))
    SinkSet(out_dir=table).merge_classified(spark, cdf)
    assert mv.refresh(spark)["mode"] == "incremental"
    assert _view(spark, mv) == _truth(spark, table)
    assert ("authfail", "2026-05-01 00:00:00") in _view(spark, mv)

    # replay: the re-merged batch leaves the view at the truth
    SinkSet(out_dir=table).merge_classified(spark, cdf)
    assert mv.refresh(spark)["mode"] == "incremental"
    assert _view(spark, mv) == _truth(spark, table)

    # two merges the view has not seen
    SinkSet(out_dir=table).merge_classified(spark, cdf)
    SinkSet(out_dir=table).merge_classified(spark, cdf)
    res = mv.refresh(spark)
    assert res == {"mode": "incremental",
                   "snapshot": len(SinkSet(out_dir=table).snapshots()) - 1}
    assert _view(spark, mv) == _truth(spark, table)

    # a merge whose sidecar has no keys (written before merges recorded
    # them): the feed refuses it, the refresh re-baselines
    import json
    import os

    SinkSet(out_dir=table).merge_classified(spark, cdf)
    run = SinkSet(out_dir=table).snapshots()[-1]["run_id"]
    meta_path = os.path.join(table, "runs", run, "_run.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["keys"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="without change keys"):
        SinkSet(out_dir=table).changes(spark, since=res["snapshot"])
    assert mv.refresh(spark)["mode"] == "full"
    assert _view(spark, mv) == _truth(spark, table)


def test_supersede_stamp_survives_utime_failure(spark, committed_run,
                                                tmp_path, monkeypatch):
    """The supersede time is recorded in the state file the pointer
    swap writes anyway, so a failing os.utime cannot open the
    premature-deletion window: a long-lived (ancient-mtime) version
    stays protected for the grace window ACROSS MULTIPLE later
    refresh cycles (a skip-one-sweep fallback would delete it on the
    second cycle), and still ages out normally afterwards."""
    import os
    import time as _time

    table = str(tmp_path / "t")
    shutil.copytree(committed_run, table)
    mv = materialized.SinkDailyCounts(table, str(tmp_path / "view"))
    mv.refresh(spark)
    v1 = mv._state()["data"]
    v1_path = os.path.join(mv.view_dir, v1)
    # long-lived version: WRITTEN 2h ago (mtime far past the grace)
    old = _time.time() - 7200
    os.utime(v1_path, (old, old))

    def _fail(*a, **k):
        raise OSError("utime denied")

    monkeypatch.setattr(materialized.os, "utime", _fail)
    SinkSet(out_dir=table).compact(spark, min_files_per_partition=1)
    mv.refresh(spark)  # swap to v2; dir stamp fails, state stamp holds
    assert mv._state()["data"] != v1
    assert v1 in (mv._state().get("superseded") or {})
    # pre-fix this dir is already gone (mtime 2h < 30-min grace)
    assert os.path.isdir(v1_path)
    # a SECOND cycle (new snapshot + refresh, stamp still failing)
    # must not sweep it either — the stamp is durable, not skip-once
    SinkSet(out_dir=table).compact(
        spark, min_files_per_partition=1, max_records_per_file=97)
    mv.refresh(spark)
    assert os.path.isdir(v1_path)
    monkeypatch.undo()
    # the state-file stamp ages like a normal one: zero grace -> swept,
    # and the pruned dir leaves the superseded map
    mv.min_age_minutes = 0.0
    mv.refresh(spark)
    assert not os.path.isdir(v1_path)
    SinkSet(out_dir=table).compact(
        spark, min_files_per_partition=1, max_records_per_file=43)
    mv.refresh(spark)
    assert v1 not in (mv._state().get("superseded") or {})
