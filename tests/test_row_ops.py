"""Row-level operations on the committed sink table: conversation
DELETE (the copy-on-write ``DELETE FROM`` analogue, the GDPR path) and
conversation-granularity MERGE/upsert (the ``MERGE INTO`` analogue for
re-delivered conversations) — SURVEY.md §2.3 sinks row.

Properties locked in:
  - delete removes EXACTLY the named conversations (every sink,
    ignored included) and touches only the buckets they hash into —
    proved by the runtime numFiles scan metric, not a plan string;
  - conservation gates the manifest swap (footer counts == committed
    - matched), so a crash/violation can never publish a bad table;
  - merge replaces a re-delivered conversation's rows wholesale,
    inserts unseen conversations, and leaves every other row intact;
  - snapshot log semantics: delete/merge append snapshots, time travel
    to the pre-op snapshot still sees the old rows, and the
    ``changes()`` feed reports their rows as signed changes (a delete's
    rows as deletes; a merge's replaced rows as deletes and its batch
    as inserts), while it refuses to cross a rollback.

Every test copies the shared committed-run fixture into its own tmp
dir, so tests are order- and selection-independent.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from logparse_spark import pipeline
from logparse_spark.sinks import SinkSet, load_manifest

RULES = "/root/repo/rules/default.rules"


@pytest.fixture(scope="module")
def committed_run(spark, fixture_sf_small, tmp_path_factory):
    """A committed pipeline run (8 buckets, 2 commit groups).
    READ-ONLY: tests copy it, never mutate."""
    out = str(tmp_path_factory.mktemp("committed_run"))
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out,
        rules_path=RULES,
        dict_dir=fixture_sf_small,
        buckets=8,
        salt_buckets=4,
        groups=2,
    )
    return out


@pytest.fixture()
def table(committed_run, tmp_path):
    out = str(tmp_path / "sinkset")
    shutil.copytree(committed_run, out)
    return out


def _full(spark, out):
    return SinkSet(out_dir=out)._read_committed(spark)


def test_read_conversations_batch_lookup(spark, table):
    """Batch point lookup: exact rows for a multi-id set, planned over
    only the ids' buckets (runtime numFiles), incl. the as_of path."""
    from conftest import scan_num_files

    ss = SinkSet(out_dir=table)
    full = _full(spark, table)
    convs = [
        r["conv_id"]
        for r in full.select("conv_id", "bucket").distinct()
        .groupBy("bucket").agg(F.min("conv_id").alias("conv_id"))
        .orderBy("bucket").limit(3).collect()
    ]
    want = sorted(
        tuple(r) for r in full.filter(F.col("conv_id").isin(convs))
        .select("conv_id", "turn_idx", "sink_id").collect())
    got_df = ss.read_conversations(spark, convs)
    got = sorted(tuple(r) for r in
                 got_df.select("conv_id", "turn_idx", "sink_id").collect())
    assert got == want and got
    total = scan_num_files(_full(spark, table), table)
    planned = scan_num_files(
        ss.read_conversations(spark, convs), table)
    assert planned < total, (planned, total)
    # duplicate ids collapse; unknown ids contribute nothing
    got2 = ss.read_conversations(spark, convs + convs + ["no-such-conv"])
    assert got2.count() == len(got)
    with pytest.raises(ValueError):
        ss.read_conversations(spark, [])
    # as_of: pre-delete snapshot still serves a deleted conversation
    pre = len(ss.snapshots()) - 1
    SinkSet(out_dir=table).delete_conversations(spark, [convs[0]])
    live = SinkSet(out_dir=table).read_conversations(spark, convs)
    assert live.filter(F.col("conv_id") == convs[0]).count() == 0
    travel = SinkSet(out_dir=table).read_conversations(
        spark, convs, as_of=pre)
    assert sorted(tuple(r) for r in
                  travel.select("conv_id", "turn_idx", "sink_id")
                  .collect()) == want


def test_delete_conversations_exact_and_pruned(spark, table):
    from conftest import scan_num_files

    ss = SinkSet(out_dir=table)
    full = _full(spark, table)
    # two conversations from DIFFERENT buckets, to exercise multi-bucket
    convs = [
        r["conv_id"]
        for r in full.select("conv_id", "bucket").distinct()
        .orderBy("bucket", "conv_id")
        .groupBy("bucket").agg(F.min("conv_id").alias("conv_id"))
        .orderBy("bucket").limit(2).collect()
    ]
    before = full.collect()
    doomed = [r for r in before if r["conv_id"] in convs]
    assert doomed, "fixture conversations unexpectedly empty"
    doomed_buckets = sorted({r["bucket"] for r in doomed})
    manifest_before = load_manifest(table)["buckets"]

    res = ss.delete_conversations(spark, convs)
    assert res["rows_deleted"] == len(doomed)
    assert res["rewritten_buckets"] == doomed_buckets

    # survivors only, nothing else lost — across ALL sinks incl. ignored
    after = _full(spark, table).collect()
    key = lambda r: (r["bucket"], r["sink_id"], r["conv_id"], r["turn_idx"])
    assert sorted(map(key, after)) == sorted(
        key(r) for r in before if r["conv_id"] not in convs
    )

    # manifest: untouched buckets keep their run; hit buckets repointed
    # with counts reduced by exactly the matched rows
    manifest_after = load_manifest(table)["buckets"]
    assert set(manifest_after) == set(manifest_before)
    for b, meta in manifest_after.items():
        old = manifest_before[b]
        if int(b) in doomed_buckets:
            assert meta["run_id"] != old["run_id"]
            gone = len([r for r in doomed if r["bucket"] == int(b)])
            assert meta["rows"] == old["rows"] - gone
        else:
            assert meta == old

    # partition pruning is REAL: a follow-up single-conv delete plans
    # over only that conversation's bucket (numFiles metric)
    remaining = [r["conv_id"] for r in after if r["conv_id"] not in convs]
    conv3 = remaining[0]
    by_run = SinkSet(out_dir=table)._committed_by_run()
    b3 = [r["bucket"] for r in after if r["conv_id"] == conv3][0]
    hit_by_run = {r: [b3] for r, bs in by_run.items() if b3 in bs}
    pruned = SinkSet(out_dir=table)._read_committed(spark, hit_by_run).filter(
        F.col("conv_id") == conv3
    )
    total_files = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(os.path.join(table, "runs"))
    )
    n_read = scan_num_files(pruned, os.path.basename(table))
    assert 0 < n_read < total_files / 2, (n_read, total_files)

    # idempotent: deleting the same ids again is a no-op commit-wise
    res2 = SinkSet(out_dir=table).delete_conversations(spark, convs)
    assert res2 == {"rewritten_buckets": [], "rows_deleted": 0}
    # unknown id: no-op too
    res3 = SinkSet(out_dir=table).delete_conversations(
        spark, ["no-such-conversation"])
    assert res3 == {"rewritten_buckets": [], "rows_deleted": 0}


def test_delete_snapshot_semantics(spark, table):
    ss = SinkSet(out_dir=table)
    conv = _full(spark, table).select("conv_id").first()["conv_id"]
    n_before = _full(spark, table).count()
    pre = len(ss.snapshots()) - 1

    res = SinkSet(out_dir=table).delete_conversations(spark, [conv])
    assert res["rows_deleted"] > 0

    ss2 = SinkSet(out_dir=table)
    snaps = ss2.snapshots()
    assert "delete_of" in snaps[-1]
    assert snaps[-1]["rows_deleted"] == res["rows_deleted"]

    # live read excludes the conversation; time travel still sees it
    assert _full(spark, table).count() == n_before - res["rows_deleted"]
    at_pre = ss2.read_routed(spark, as_of=pre)
    assert at_pre.filter(F.col("conv_id") == conv).count() > 0
    # the point lookup agrees on both sides of the snapshot (the
    # audit read): gone live, present as-of the pre-delete snapshot
    assert ss2.read_conversation(spark, conv).count() == 0
    assert ss2.read_conversation(spark, conv, as_of=pre).count() == \
        res["rows_deleted"]

    # the change feed reports the deleted rows, as deletes of the
    # delete snapshot; the appends before it stay inserts
    feed = ss2.changes(spark, since=pre).collect()
    assert len(feed) == res["rows_deleted"]
    assert {(r["conv_id"], r["_change_type"], r["_snapshot_id"])
            for r in feed} == {(conv, "delete", pre + 1)}
    head = ss2.changes(spark, since=-1, until=pre)
    assert head.count() == n_before
    assert {r[0] for r in head.select("_change_type").distinct()
            .collect()} == {"insert"}

    # physical erasure (the compliance point): the pre-delete run still
    # holds the deleted bytes while OTHER buckets reference it, so
    # vacuum alone is a no-op; a full rewrite orphans it, then vacuum
    # removes it and time travel to the pre-delete snapshot raises
    assert SinkSet(out_dir=table).vacuum(min_age_minutes=0) == []
    assert SinkSet(out_dir=table).compact(
        spark, min_files_per_partition=1)["rewritten_buckets"]
    assert SinkSet(out_dir=table).vacuum(min_age_minutes=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        SinkSet(out_dir=table).read_routed(spark, as_of=pre)


def test_delete_refuses_iceberg_branch(spark, table):
    with pytest.raises(RuntimeError, match="DELETE FROM"):
        SinkSet(out_dir=table, fmt="iceberg").delete_conversations(
            spark, ["x"])
    with pytest.raises(RuntimeError, match="MERGE INTO"):
        SinkSet(out_dir=table, fmt="iceberg").merge_classified(
            spark, _full(spark, table).limit(0))


def _updates_source(spark, table, tmp_path, fixture_sf_small):
    """An update batch: one EXISTING conversation re-delivered with
    revised turns (fewer, different text) + one brand-new conversation.
    Returns (parquet_path, revised_conv, new_conv)."""
    import datetime

    conv = (
        _full(spark, table).select("conv_id")
        .orderBy("conv_id").first()["conv_id"]
    )
    src = (
        spark.read.parquet(f"{fixture_sf_small}/transcripts.parquet")
        .filter(F.col("conv_id") == conv).orderBy("turn_idx").limit(3)
        .collect()
    )
    assert src
    ts = datetime.datetime(2026, 3, 1)
    rows = [
        (conv, i, r["role"], "login failed for user upsert_probe",
         r["tool"], ts) for i, r in enumerate(src)
    ] + [
        ("convUPSERT01", 0, "user", "please run the report", None, ts),
        ("convUPSERT01", 1, "assistant",
         "err 7 step 1: checksum verification failed", None, ts),
    ]
    path = str(tmp_path / "updates.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    ).coalesce(1).write.parquet(path)
    return path, conv, "convUPSERT01"


def test_upsert_replaces_and_inserts(spark, table, tmp_path,
                                     fixture_sf_small):
    src_path, conv, new_conv = _updates_source(
        spark, table, tmp_path, fixture_sf_small)
    before = _full(spark, table).collect()
    old_rows = [r for r in before if r["conv_id"] == conv]
    assert len(old_rows) > 3, "fixture conversation too small to show replacement"
    manifest_before = load_manifest(table)["buckets"]

    res = pipeline.upsert(
        spark, src_path, table, rules_path=RULES, dict_dir=fixture_sf_small,
    )
    assert res["rows_deleted"] == len(old_rows)
    assert res["rows_inserted"] == 5

    after = _full(spark, table).collect()
    # the re-delivered conversation: exactly the 3 new turns survive
    got = sorted(
        (r["turn_idx"], r["rendered"]) for r in after
        if r["conv_id"] == conv
    )
    assert len(got) == 3
    assert all(t in (0, 1, 2) for t, _ in got)
    # the new conversation landed, classified (2 turns, one per rule)
    ins = [r for r in after if r["conv_id"] == new_conv]
    assert len(ins) == 2
    assert {r["sink_id"] for r in ins} <= {
        "authfail", "error", "unmatched", "ignored", "toolcall"}
    # every untouched conversation is bit-identical
    key = lambda r: (r["bucket"], r["sink_id"], r["conv_id"],
                     r["turn_idx"], r["rendered"])
    assert sorted(
        key(r) for r in after if r["conv_id"] not in (conv, new_conv)
    ) == sorted(
        key(r) for r in before if r["conv_id"] not in (conv, new_conv)
    )

    # merge-on-read: the touched buckets keep their base run and gain
    # a delta run holding just the batch; no bucket is rewritten
    assert res["rewritten_buckets"] == []
    assert res["delta_buckets"] and res["rows_written"] == 5
    # manifest: conservation committed (committed - matched + inserted)
    manifest_after = load_manifest(table)["buckets"]
    for b, meta in manifest_after.items():
        old = manifest_before[b]
        if int(b) in res["delta_buckets"]:
            assert meta["run_id"] == old["run_id"]
            assert meta["delta_run_id"] != old.get("delta_run_id")
        else:
            assert meta == old
    assert sum(m["rows"] for m in manifest_after.values()) == \
        sum(m["rows"] for m in manifest_before.values()) \
        - res["rows_deleted"] + res["rows_inserted"]

    # snapshot log records the merge; the change feed reports the
    # replaced rows as deletes and the batch as inserts
    snaps = SinkSet(out_dir=table).snapshots()
    assert "merge_of" in snaps[-1]
    feed = SinkSet(out_dir=table).changes(spark, since=len(snaps) - 2)
    n = {r["_change_type"]: r["count"]
         for r in feed.groupBy("_change_type").count().collect()}
    assert n == {"delete": res["rows_deleted"],
                 "insert": res["rows_inserted"]}
    assert sorted(key(r) for r in feed.collect()
                  if r["_change_type"] == "delete") == \
        sorted(key(r) for r in old_rows)
    assert {r["conv_id"] for r in feed.collect()
            if r["_change_type"] == "insert"} == {conv, new_conv}

    # idempotent re-delivery: same batch again deletes what it inserted
    res2 = pipeline.upsert(
        spark, src_path, table, rules_path=RULES, dict_dir=fixture_sf_small,
    )
    assert res2["rows_inserted"] == 5
    assert res2["rows_deleted"] == 5
    # the old delta's rows are all superseded: the new delta is the batch
    assert res2["rows_written"] == 5
    assert _full(spark, table).count() == len(after)


def test_upsert_refuses_unpinned_table(spark, table, tmp_path,
                                       fixture_sf_small):
    manifest = load_manifest(table)
    manifest.pop("n_buckets", None)
    import json
    with open(os.path.join(table, "_manifest", "committed.json"), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="n_buckets"):
        pipeline.upsert(
            spark, f"{fixture_sf_small}/transcripts.parquet", table,
            rules_path=RULES,
        )


def test_delete_whole_table_leaves_readable_manifest(spark, table):
    """Deleting every conversation empties every bucket: the commit
    still lands (rows=0 entries keep resume semantics — a re-run must
    NOT silently reprocess and resurrect), and readers fail loudly
    with 'fully deleted' rather than crashing on schema inference."""
    convs = [
        r["conv_id"]
        for r in _full(spark, table).select("conv_id").distinct().collect()
    ]
    n = _full(spark, table).count()
    res = SinkSet(out_dir=table).delete_conversations(spark, convs)
    assert res["rows_deleted"] == n

    manifest = load_manifest(table)["buckets"]
    assert all(m["rows"] == 0 for m in manifest.values())
    with pytest.raises(FileNotFoundError, match="fully deleted"):
        _full(spark, table)
    # resume bookkeeping intact: every bucket still reads as committed
    from logparse_spark.sinks import committed_buckets
    assert committed_buckets(table) == {int(b) for b in manifest}


def test_reads_after_a_delete_empties_a_bucket(spark, table):
    """A delete that empties one bucket repoints it at a run with no
    file for it. Reads that can only match there — a lookup and an
    export of deleted ids, a time range no file covers — answer an
    empty frame with the table's columns instead of raising, and the
    rest of the table still reads."""
    full = _full(spark, table)
    doomed = sorted(r["conv_id"] for r in full.filter("bucket = 0")
                    .select("conv_id").distinct().collect())
    assert doomed
    SinkSet(out_dir=table).delete_conversations(spark, doomed)
    assert load_manifest(table)["buckets"]["0"]["rows"] == 0

    ss = SinkSet(out_dir=table)
    left = _full(spark, table)
    for df in (ss.read_conversation(spark, doomed[0]),
               ss.read_conversations(spark, doomed[:3]),
               ss.read_time_range(spark, "1990-01-01", "1990-01-02")):
        assert sorted(df.columns) == sorted(left.columns)
        assert df.count() == 0
    assert ss.read_time_range(spark, "1990-01-01", "2100-01-01").count() \
        == left.filter(F.col("ts").isNotNull()).count() > 0


def test_delete_crash_before_commit_leaves_table_intact(spark, table,
                                                        monkeypatch):
    """A delete that dies between its rewrite and its commit (the
    window a real crash hits) must leave the manifest untouched — the
    table reads exactly as before — and leave only an unreferenced run
    dir behind, which vacuum's min-age guard protects and a later
    vacuum collects."""
    from logparse_spark import sinks as sinks_mod

    before = sorted(map(tuple, _full(spark, table).collect()))
    conv = _full(spark, table).first()["conv_id"]
    runs_before = set(os.listdir(os.path.join(table, "runs")))
    manifest_before = load_manifest(table)

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(sinks_mod.SinkSet, "commit", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        SinkSet(out_dir=table).delete_conversations(spark, [conv])
    monkeypatch.undo()

    # manifest untouched -> readers see the original table
    assert load_manifest(table) == manifest_before
    assert sorted(map(tuple, _full(spark, table).collect())) == before
    # exactly one orphan run dir appeared; min-age guard spares it,
    # explicit collection removes it
    orphans = set(os.listdir(os.path.join(table, "runs"))) - runs_before
    assert len(orphans) == 1
    assert SinkSet(out_dir=table).vacuum() == []
    assert set(SinkSet(out_dir=table).vacuum(min_age_minutes=0)) == orphans

    # and the op, retried cleanly, succeeds
    res = SinkSet(out_dir=table).delete_conversations(spark, [conv])
    assert res["rows_deleted"] > 0


def _key(r):
    return (r["bucket"], r["sink_id"], r["conv_id"], r["turn_idx"],
            r["rendered"])


def test_rollback_undoes_delete(spark, table):
    """rollback_to_snapshot semantics: a bad delete is undone by
    repointing the live table at the pre-delete snapshot. History stays
    append-only (the rollback is itself a snapshot; the delete snapshot
    remains time-travel-readable until vacuumed), and the delete run
    becomes vacuum-collectable once unreferenced."""
    ss = SinkSet(out_dir=table)
    conv = _full(spark, table).select("conv_id").first()["conv_id"]
    before = sorted(_key(r) for r in _full(spark, table).collect())
    pre = len(ss.snapshots()) - 1

    SinkSet(out_dir=table).delete_conversations(spark, [conv])
    del_snap = len(SinkSet(out_dir=table).snapshots()) - 1
    assert _full(spark, table).filter(F.col("conv_id") == conv).count() == 0

    res = SinkSet(out_dir=table).rollback(pre)
    snaps = SinkSet(out_dir=table).snapshots()
    assert res["snapshot"] == len(snaps) - 1 == del_snap + 1
    assert snaps[-1]["rollback_to"] == pre

    # resurrection: the live table is bit-identical to pre-delete
    assert sorted(_key(r) for r in _full(spark, table).collect()) == before
    # manifest lineage restored exactly (rows + sinks from footers)
    total = sum(m["rows"] for m in load_manifest(table)["buckets"].values())
    assert total == len(before)
    # history preserved: time travel to the delete snapshot still
    # shows the deleted state
    at_del = SinkSet(out_dir=table).read_routed(spark, as_of=del_snap)
    assert at_del.filter(F.col("conv_id") == conv).count() == 0
    # the change feed may not cross the rollback
    with pytest.raises(ValueError, match="row-level modification"):
        SinkSet(out_dir=table).changes(spark, since=pre)
    # the delete's COW run is now unreferenced -> collectable; after
    # that, the delete snapshot is expired (unreadable), live is fine
    assert SinkSet(out_dir=table).vacuum(min_age_minutes=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        SinkSet(out_dir=table).read_routed(spark, as_of=del_snap)
    assert _full(spark, table).count() == len(before)


def test_rollback_round_trip_and_bucket_drop(spark, table):
    """The fixture commits in 2 groups -> 2 snapshots. Rolling back to
    snapshot 0 drops the group-2 buckets from the live mapping (they
    did not exist then); rolling 'back' to snapshot 1 restores the full
    table (a rollback target may be any snapshot, including a later
    one); a rollback may even target another rollback snapshot."""
    def _full_asof(k):
        ss_ = SinkSet(out_dir=table)
        return ss_._read_committed(spark, ss_._buckets_as_of(k))

    ss = SinkSet(out_dir=table)
    snaps0 = ss.snapshots()
    assert len(snaps0) == 2, "fixture expected to commit in 2 groups"
    n_full = _full(spark, table).count()
    n_g1 = _full_asof(0).count()
    assert 0 < n_g1 < n_full
    full_rows = sorted(_key(r) for r in _full(spark, table).collect())

    assert SinkSet(out_dir=table).rollback(0)["snapshot"] == 2
    assert _full(spark, table).count() == n_g1
    live_buckets = set(load_manifest(table)["buckets"])
    assert live_buckets == {str(b) for b in snaps0[0]["committed_buckets"]}

    # roll forward: target the pre-rollback full table
    assert SinkSet(out_dir=table).rollback(1)["snapshot"] == 3
    assert sorted(_key(r) for r in _full(spark, table).collect()) == full_rows

    # rollback whose target is itself a rollback snapshot (id 2 -> id 0)
    assert SinkSet(out_dir=table).rollback(2)["snapshot"] == 4
    assert _full(spark, table).count() == n_g1

    # group-2's run is unreferenced now: vacuum collects it, snapshots
    # that need it (1 and 3) expire, live stays readable
    assert SinkSet(out_dir=table).vacuum(min_age_minutes=0)
    for dead in (1, 3):
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            SinkSet(out_dir=table).read_routed(spark, as_of=dead)
    assert _full(spark, table).count() == n_g1
    assert _full_asof(4).count() == n_g1


def test_rollback_rejects_bad_target(spark, table):
    with pytest.raises(IndexError, match="out of range"):
        SinkSet(out_dir=table).rollback(99)
    with pytest.raises(IndexError, match="out of range"):
        SinkSet(out_dir=table).rollback(-1)


# -- merge-on-read layers ----------------------------------------------


def _upsert(spark, table, path, convs):
    """Upsert ``convs`` ({conv_id: (n_turns, text)}) through
    pipeline.upsert; returns the merge result."""
    import datetime

    ts = datetime.datetime(2026, 3, 2)
    spark.createDataFrame(
        [(c, j, "assistant", text, None, ts)
         for c, (n, text) in convs.items() for j in range(n)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return pipeline.upsert(spark, path, table, rules_path=RULES)


def _first_conv(spark, table):
    return _full(spark, table).select("conv_id").orderBy("conv_id") \
        .first()["conv_id"]


def test_upsert_folds_a_bucket_whose_delta_outgrows_its_base(
        spark, table, tmp_path):
    """The fold bound: once a bucket's delta would hold more rows than
    its live base, the upsert rewrites the bucket whole and clears the
    delta — the rest of the bucket reads unchanged."""
    conv = _first_conv(spark, table)
    others = sorted(_key(r) for r in _full(spark, table).collect()
                    if r["conv_id"] != conv)
    res1 = _upsert(spark, table, str(tmp_path / "u1.parquet"),
                   {conv: (2, "login failed for user fold")})
    assert res1["rewritten_buckets"] == [] and len(res1["delta_buckets"]) == 1
    b = res1["delta_buckets"][0]
    layered = load_manifest(table)["buckets"][str(b)]
    assert layered["delta_run_id"] and sum(layered["delta_sinks"].values()) == 2

    big = layered["rows"] + 1
    res2 = _upsert(spark, table, str(tmp_path / "u2.parquet"),
                   {conv: (big, "heartbeat ping seq=5")})
    assert res2["rewritten_buckets"] == [b] and res2["delta_buckets"] == []
    folded = load_manifest(table)["buckets"][str(b)]
    assert "delta_run_id" not in folded
    assert folded["run_id"] not in (layered["run_id"], layered["delta_run_id"])
    assert folded["rows"] == layered["rows"] - 2 + big == res2["rows_written"]
    assert SinkSet(out_dir=table).read_conversation(spark, conv).count() == big
    assert sorted(_key(r) for r in _full(spark, table).collect()
                  if r["conv_id"] != conv) == others


def test_upsert_folds_a_bucket_whose_delete_set_outgrows_its_bound(
        spark, table, tmp_path, monkeypatch):
    """The second fold bound: once D(b) would list more than
    MAX_SUPERSEDED_IDS conv ids, the upsert folds the bucket, so the
    literal filter a layered read plans stays short."""
    from logparse_spark import sinks as sinks_mod

    monkeypatch.setattr(sinks_mod, "MAX_SUPERSEDED_IDS", 1)
    conv = _first_conv(spark, table)
    res1 = _upsert(spark, table, str(tmp_path / "u1.parquet"),
                   {conv: (2, "login failed for user d1")})
    assert res1["rewritten_buckets"] == [] and len(res1["delta_buckets"]) == 1
    b = res1["delta_buckets"][0]
    other = _full(spark, table).filter(
        (F.col("bucket") == b) & (F.col("conv_id") != conv)
    ).agg(F.min("conv_id")).first()[0]
    want = sorted(_key(r) for r in _full(spark, table).collect()
                  if r["conv_id"] != other)
    res2 = _upsert(spark, table, str(tmp_path / "u2.parquet"),
                   {other: (1, "heartbeat ping seq=7")})
    assert res2["rewritten_buckets"] == [b] and res2["delta_buckets"] == []
    assert "delta_run_id" not in load_manifest(table)["buckets"][str(b)]
    got = _full(spark, table).collect()
    assert sorted(_key(r) for r in got if r["conv_id"] != other) == want
    assert sum(r["conv_id"] == other for r in got) == 1


def test_upsert_keeps_null_conv_id_rows(spark, table, tmp_path):
    """A null conv_id equals no id, as in an anti-join: an upsert
    carrying null-id rows inserts them and supersedes nothing, and the
    rows survive every later layer step — the old delta's filter, a
    fold, and the base's D(b) filter on reads — in step with the
    manifest's live counts."""
    def check():
        full = _full(spark, table)
        assert full.filter(F.col("conv_id").isNull()).count() == 2
        assert full.count() == sum(
            m["rows"] for m in load_manifest(table)["buckets"].values())

    res = _upsert(spark, table, str(tmp_path / "u1.parquet"),
                  {None: (2, "login failed for user ghost")})
    assert res["rows_inserted"] == 2 and res["rows_deleted"] == 0
    b = res["delta_buckets"][0]
    check()
    conv = _full(spark, table).filter(
        (F.col("bucket") == b) & F.col("conv_id").isNotNull()
    ).agg(F.min("conv_id")).first()[0]
    # the null rows sit in the old delta the next upsert carries over
    _upsert(spark, table, str(tmp_path / "u2.parquet"),
            {conv: (3, "heartbeat ping seq=1")})
    check()
    SinkSet(out_dir=table).compact(spark, min_files_per_partition=10 ** 6)
    assert "delta_run_id" not in load_manifest(table)["buckets"][str(b)]
    check()
    # now in the base, which the next upsert layers again
    res = _upsert(spark, table, str(tmp_path / "u3.parquet"),
                  {conv: (1, "heartbeat ping seq=2")})
    assert res["delta_buckets"] == [b]
    check()
    assert SinkSet(out_dir=table).read_conversation(spark, conv).count() == 1


def test_change_feed_carried_null_id_rows_cancel(spark, table, tmp_path):
    """Null-id rows are found through the buckets the merge recorded
    for them, not through ids: a second null-id upsert into a bucket
    whose delta already holds null-id rows reports those carried rows
    as a delete plus an insert, which cancel, so the feed still takes
    the table from the snapshot before to the merge's."""
    from collections import Counter

    def counts(df, sign=lambda r: 1):
        out = Counter()
        for r in df.collect():
            out[(r["conv_id"], r["sink_id"])] += sign(r)
        return out

    _upsert(spark, table, str(tmp_path / "u1.parquet"),
            {None: (2, "login failed for user ghost")})
    res = _upsert(spark, table, str(tmp_path / "u2.parquet"),
                  {None: (1, "login failed for user ghost")})
    assert res["rows_inserted"] == 1 and res["rows_deleted"] == 0
    ss = SinkSet(out_dir=table)
    i = len(ss.snapshots()) - 1
    feed = ss.changes(spark, since=i - 1)
    n = Counter(r["_change_type"] for r in feed.collect())
    assert n == {"delete": 2, "insert": 3}
    assert all(r["conv_id"] is None for r in feed.collect())
    signed = Counter(counts(ss.read_routed(spark, as_of=i - 1,
                                           with_ignored=True)))
    signed.update(counts(feed, lambda r: (
        -1 if r["_change_type"] == "delete" else 1)))
    assert +signed == +counts(ss.read_routed(spark, with_ignored=True))


def test_compact_folds_layered_buckets(spark, table, tmp_path):
    """compact() folds every layered bucket, whatever its file count:
    one base run again, same rows."""
    res = _upsert(spark, table, str(tmp_path / "u.parquet"),
                  {_first_conv(spark, table): (3, "login failed for user c")})
    b = res["delta_buckets"][0]
    rows = sorted(_key(r) for r in _full(spark, table).collect())
    comp = SinkSet(out_dir=table).compact(
        spark, min_files_per_partition=10 ** 6)
    assert comp["rewritten_buckets"] == [b]
    assert "delta_run_id" not in load_manifest(table)["buckets"][str(b)]
    assert sorted(_key(r) for r in _full(spark, table).collect()) == rows


def test_upsert_crash_before_commit_leaves_previous_snapshot(
        spark, table, tmp_path, monkeypatch):
    """An upsert killed after its delta run is written and before its
    commit publishes nothing: the previous snapshot reads as before,
    and the delta run is an orphan that vacuum removes."""
    from logparse_spark import sinks as sinks_mod

    conv = _first_conv(spark, table)
    # layer the bucket first, so the killed upsert carries an old delta
    _upsert(spark, table, str(tmp_path / "u0.parquet"),
            {conv: (2, "login failed for user crash")})
    before = sorted(map(tuple, _full(spark, table).collect()))
    manifest_before = load_manifest(table)
    runs_before = set(os.listdir(os.path.join(table, "runs")))

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(sinks_mod.SinkSet, "commit", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        _upsert(spark, table, str(tmp_path / "u1.parquet"),
                {conv: (4, "heartbeat ping seq=9")})
    monkeypatch.undo()

    assert load_manifest(table) == manifest_before
    assert sorted(map(tuple, _full(spark, table).collect())) == before
    orphans = set(os.listdir(os.path.join(table, "runs"))) - runs_before
    assert len(orphans) == 1
    orphan = os.path.join(table, "runs", next(iter(orphans)))
    assert any(f.endswith(".parquet")
               for _, _, fs in os.walk(orphan) for f in fs)
    assert SinkSet(out_dir=table).vacuum() == []
    assert set(SinkSet(out_dir=table).vacuum(min_age_minutes=0)) == orphans
    assert sorted(map(tuple, _full(spark, table).collect())) == before


def test_upsert_conflicts_with_concurrent_compact(spark, table, tmp_path,
                                                  monkeypatch):
    """An upsert whose layered bucket is folded by a compaction that
    commits between the upsert's read and its commit raises
    CommitConflict and publishes nothing of its own."""
    from logparse_spark.sinks import CommitConflict

    conv = _first_conv(spark, table)
    _upsert(spark, table, str(tmp_path / "u0.parquet"),
            {conv: (2, "login failed for user race")})
    real_commit = SinkSet.commit

    def racing(self, lineage, extra=None, **kw):
        if extra and "merge_of" in extra:
            SinkSet(out_dir=table).compact(
                spark, min_files_per_partition=10 ** 6)
        return real_commit(self, lineage, extra=extra, **kw)

    monkeypatch.setattr(SinkSet, "commit", racing)
    with pytest.raises(CommitConflict):
        _upsert(spark, table, str(tmp_path / "u1.parquet"),
                {conv: (3, "heartbeat ping seq=3")})
    monkeypatch.undo()
    snaps = SinkSet(out_dir=table).snapshots()
    assert "compaction_of" in snaps[-1]
    assert SinkSet(out_dir=table).read_conversation(spark, conv).count() == 2


def test_table_tool_stats_and_validate_see_delta_runs(spark, table,
                                                      tmp_path):
    """After one upsert, ``table_tool stats`` counts the delta run and
    its files and reports the layered buckets, and validate_schema
    reads the delta run's footers too."""
    import json
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    res = _upsert(spark, table, str(tmp_path / "u.parquet"),
                  {_first_conv(spark, table): (2, "login failed for user s")})
    b = res["delta_buckets"][0]
    manifest = load_manifest(table)["buckets"]
    runs = {m["run_id"] for m in manifest.values()} | {
        m["delta_run_id"] for m in manifest.values() if "delta_run_id" in m}
    files = sum(1 for r in runs
                for _, _, fs in os.walk(os.path.join(table, "runs", r))
                for f in fs if f.endswith(".parquet"))
    tool = os.path.join(os.path.dirname(__file__), os.pardir, "jobs",
                        "table_tool.py")
    proc = subprocess.run(
        [sys.executable, tool, "--out", table, "stats"],
        capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["delta_buckets"] == 1
    assert stats["runs"] == len(runs) and stats["files"] == files
    assert stats["rows"] == sum(m["rows"] for m in manifest.values())

    ss = SinkSet(out_dir=table)
    assert ss.validate_schema()["ok"]
    delta = manifest[str(b)]["delta_run_id"]
    foreign = os.path.join(table, "runs", delta, f"bucket={b}", "sink_id=x")
    os.makedirs(foreign)
    pq.write_table(pa.table({"bogus": [1]}),
                   os.path.join(foreign, "part-foreign.parquet"))
    got = SinkSet(out_dir=table).validate_schema()
    assert not got["ok"] and "bogus" in got["runs"][delta]["unexpected"]
