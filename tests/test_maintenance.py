"""Sink maintenance: compaction + vacuum (the parquet stand-ins for
Iceberg rewrite_data_files / expire_snapshots — SURVEY.md §2.2 X2).

Properties locked in:
  - compaction preserves the committed table EXACTLY (same rows, same
    per-sink counts, same routed-row order within every sink);
  - it actually reduces file count to one per (bucket, sink), or to
    ceil(rows / max_records_per_file) files when a size target is set;
  - the manifest swap is atomic-by-construction (conservation check
    runs before commit), and vacuum removes only unreferenced runs
    older than its min-age guard;
  - readers (read_routed / lineage_df) see identical results before
    and after compact + vacuum.

Every test copies the shared committed-run fixture into its own tmp
dir (the fixture itself is never mutated), so tests are order- and
selection-independent.
"""

from __future__ import annotations

import math
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from logparse_spark import pipeline
from logparse_spark.sinks import SinkSet, load_manifest

RULES = "/root/repo/rules/default.rules"


@pytest.fixture(scope="module")
def committed_run(spark, fixture_sf_small, tmp_path_factory):
    """A committed pipeline run with deliberately sharded bucket
    partitions: salt spreads each bucket over several write tasks, so
    every (bucket, sink) holds multiple small files — the state
    compaction exists to fix. READ-ONLY: tests copy it, never mutate."""
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
        hot_threshold=500,
    )
    return out


@pytest.fixture()
def compact_out(committed_run, tmp_path):
    """A private, mutable copy of the committed run for this test."""
    out = str(tmp_path / "sinkset")
    shutil.copytree(committed_run, out)
    return out


def _file_census(out_dir: str) -> dict[tuple[int, str], int]:
    """(bucket, sink_id) -> parquet file count across COMMITTED runs."""
    manifest = load_manifest(out_dir)
    census: dict[tuple[int, str], int] = {}
    for b, meta in manifest["buckets"].items():
        base = os.path.join(out_dir, "runs", meta["run_id"], f"bucket={int(b)}")
        for root, _, files in os.walk(base):
            n = len([f for f in files if f.endswith(".parquet")])
            if not n:
                continue
            sink = [s for s in root.split(os.sep) if s.startswith("sink_id=")]
            census[(int(b), sink[0].split("=", 1)[1])] = (
                census.get((int(b), sink[0].split("=", 1)[1]), 0) + n
            )
    return census


def test_compact_preserves_table_and_merges_files(spark, compact_out):
    sink = SinkSet(out_dir=compact_out)
    before_rows = sink.read_routed(spark).select(
        "bucket", "sink_id", "conv_id", "turn_idx", "rule_id", "rendered"
    )
    before = before_rows.collect()
    manifest_before = load_manifest(compact_out)["buckets"]
    census_before = _file_census(compact_out)
    assert any(n > 1 for n in census_before.values()), (
        "fixture run produced one file per partition already — the salt/"
        "group setup no longer shards writes and this test lost its subject"
    )

    res = sink.compact(spark)
    assert res["rewritten_buckets"], res
    assert res["files_after"] < res["files_before"]

    # manifest: same buckets, same counts, new run ids for rewritten ones
    manifest_after = load_manifest(compact_out)["buckets"]
    assert set(manifest_after) == set(manifest_before)
    for b in manifest_before:
        assert manifest_after[b]["rows"] == manifest_before[b]["rows"]
        assert manifest_after[b]["sinks"] == manifest_before[b]["sinks"]

    # one file per (bucket, sink) for every rewritten bucket
    census_after = _file_census(compact_out)
    assert set(census_after) == set(census_before)
    for (b, s), n in census_after.items():
        if b in res["rewritten_buckets"]:
            assert n == 1, (b, s, n)

    # reader equivalence: exact same multiset of routed rows
    after = SinkSet(out_dir=compact_out).read_routed(spark).select(
        "bucket", "sink_id", "conv_id", "turn_idx", "rule_id", "rendered"
    )
    assert sorted(map(tuple, before)) == sorted(map(tuple, after.collect()))

    # routed-row order within each sink file is (conv_id, turn_idx):
    # reading a single compacted (bucket, sink) dir yields sorted rows
    b = res["rewritten_buckets"][0]
    run_id = manifest_after[str(b)]["run_id"]
    bdir = os.path.join(compact_out, "runs", run_id, f"bucket={b}")
    sinks = [d for d in os.listdir(bdir) if d.startswith("sink_id=")]
    rows = (
        spark.read.parquet(os.path.join(bdir, sinks[0]))
        .select("conv_id", "turn_idx").collect()
    )
    assert rows == sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"]))

    # and a re-run with the same settings is a no-op (layout at target)
    res2 = SinkSet(out_dir=compact_out).compact(spark)
    assert res2["rewritten_buckets"] == []
    assert res2["files_after"] == res2["files_before"]


def test_compact_with_file_size_target(spark, compact_out):
    """max_records_per_file is the rewrite_data_files target-file-size
    analogue: at 100 TB one file per (bucket, sink) would be a 100 GB
    file, so the writer must roll at the target and the resulting file
    count must scale as ceil(rows / target) per partition."""
    sink = SinkSet(out_dir=compact_out)
    manifest_before = load_manifest(compact_out)["buckets"]
    target = 200
    res = sink.compact(spark, max_records_per_file=target)
    assert res["rewritten_buckets"]

    manifest_after = load_manifest(compact_out)["buckets"]
    census = _file_census(compact_out)
    for (b, s), n in census.items():
        if b in res["rewritten_buckets"]:
            rows = manifest_after[str(b)]["sinks"][s]
            assert n == max(1, math.ceil(rows / target)), (b, s, n, rows)
    # conservation held (commit would have refused otherwise)
    for b in manifest_before:
        assert manifest_after[b]["sinks"] == manifest_before[b]["sinks"]
    # partitions large enough actually rolled into multiple files
    rolled = [
        n for (b, s), n in census.items()
        if b in res["rewritten_buckets"]
        and manifest_after[str(b)]["sinks"][s] > target
    ]
    assert rolled and all(n > 1 for n in rolled), census

    # idempotent under the SAME target: layout already matches
    res2 = SinkSet(out_dir=compact_out).compact(
        spark, max_records_per_file=target)
    assert res2["rewritten_buckets"] == [], res2


def test_validate_schema_contract(spark, committed_run, tmp_path):
    """Metadata-only schema contract: a healthy table passes; a
    foreign parquet with drifted columns is flagged by run, and a
    sum-bearing contract requires count_key."""
    out = str(tmp_path / "contract")
    shutil.copytree(committed_run, out)
    ss = SinkSet(out_dir=out)
    assert ss.validate_schema() == {"ok": True, "runs": {}}
    # sum contracts demand count_key, which this table lacks on disk
    res = ss.validate_schema(require_count_key=True)
    assert not res["ok"]
    assert all(v["missing"] == ["count_key"] for v in res["runs"].values())
    # inject a foreign file with a drifted schema into a committed run
    run_id = next(iter(ss._committed_by_run()))
    base = os.path.join(out, "runs", run_id)
    bucket_dir = next(
        os.path.join(base, d) for d in sorted(os.listdir(base))
        if d.startswith("bucket="))
    sink_dir = next(
        os.path.join(bucket_dir, d) for d in sorted(os.listdir(bucket_dir))
        if d.startswith("sink_id="))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"rogue_col": pa.array([1])}),
                   os.path.join(sink_dir, "aaa-foreign.parquet"))
    res2 = SinkSet(out_dir=out).validate_schema()
    assert not res2["ok"]
    flagged = res2["runs"][run_id]
    assert "rogue_col" in flagged["unexpected"]
    assert "conv_id" in flagged["missing"]


def test_vacuum_removes_only_unreferenced_runs(spark, compact_out):
    # a full rewrite (min_files_per_partition=1) repoints every
    # non-empty bucket, orphaning the earlier runs; vacuum must remove
    # exactly those (and nothing while they are younger than min-age)
    out = compact_out
    res = SinkSet(out_dir=out).compact(spark, min_files_per_partition=1)
    assert res["rewritten_buckets"]
    manifest = load_manifest(out)
    live = {m["run_id"] for m in manifest["buckets"].values()}
    on_disk = set(os.listdir(os.path.join(out, "runs")))
    assert on_disk - live, "expected unreferenced runs after full rewrite"

    sink = SinkSet(out_dir=out)
    n_before = sink.read_routed(spark).count()

    # min-age guard: fresh orphans (mtime = now) are NOT touched at the
    # default threshold — an uncommitted concurrent write looks identical
    assert sink.vacuum() == []
    assert set(os.listdir(os.path.join(out, "runs"))) == on_disk

    removed = sink.vacuum(min_age_minutes=0)
    assert set(removed) == on_disk - live
    assert set(os.listdir(os.path.join(out, "runs"))) == live

    # the committed table is untouched
    assert SinkSet(out_dir=out).read_routed(spark).count() == n_before
    # idempotent
    assert SinkSet(out_dir=out).vacuum(min_age_minutes=0) == []


def test_compact_noop_when_nothing_sharded(spark, compact_out):
    # precondition established inside THIS test: one full compaction
    # brings every partition to 1 file, so a second pass has no subject
    first = SinkSet(out_dir=compact_out).compact(spark)
    assert first["rewritten_buckets"]
    census = _file_census(compact_out)
    assert all(n == 1 for n in census.values()), census

    res = SinkSet(out_dir=compact_out).compact(spark)
    assert res["rewritten_buckets"] == []
    assert res["files_after"] == res["files_before"]


def test_compact_refuses_iceberg_branch(spark, compact_out):
    # on Iceberg the table format owns file layout (rewrite_data_files);
    # the parquet-manifest compactor must not touch it
    with pytest.raises(RuntimeError, match="rewrite_data_files"):
        SinkSet(out_dir=compact_out, fmt="iceberg").compact(spark)


def test_compact_plan_prunes_and_single_exchange(spark, compact_out):
    """The compaction read must prune to the todo buckets at the scan
    (PartitionFilters on the bucket partition column — at 100 TB
    compacting 3 buckets must not list, let alone read, the other
    1021) and the rewrite must cost exactly ONE exchange (the
    repartition on bucket). Asserted on the SAME dataflow compact()
    executes (SinkSet._compaction_plan), so the test cannot drift from
    the implementation."""
    manifest = load_manifest(compact_out)
    some = [int(b) for b in list(manifest["buckets"])[:2]]
    by_run: dict[str, list[int]] = {}
    for b in some:
        by_run.setdefault(manifest["buckets"][str(b)]["run_id"], []).append(b)
    df = SinkSet(out_dir=compact_out)._compaction_plan(spark, by_run)
    plan = df._jdf.queryExecution().executedPlan().toString()

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "bucket" in pf.group(1), plan
    # tolerant exchange match: exactly one hash exchange, keyed on
    # bucket, and no other exchange kinds (range/single partition)
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)", plan)
    assert len(exchanges) == 1, plan
    kind, keys = exchanges[0]
    assert kind == "hashpartitioning" and "bucket" in keys, plan


def test_read_conversation_point_lookup(spark, committed_run):
    """read_conversation must return exactly the conversation's rows
    (across every sink it routed to) while PLANNING over only the
    conversation's bucket — the manifest-pinned bucket space makes the
    lookup touch 1/n_buckets of the committed files, and the runtime
    numFiles scan metric proves it (at 100 TB this is a point read,
    not a table scan)."""
    from conftest import scan_num_files

    ss = SinkSet(out_dir=committed_run)
    full = ss._read_committed(spark)
    # a conversation that routed to more than one sink, to exercise the
    # cross-sink union part of the contract
    multi = (
        full.groupBy("conv_id")
        .agg(F.countDistinct("sink_id").alias("n"))
        .filter("n >= 2")
        .first()
    )
    conv = multi["conv_id"]

    got = ss.read_conversation(spark, conv)
    # metric first: numFiles is a driver-side metric posted on the
    # FIRST execution only (the scan's file listing is cached after)
    total_files = sum(_file_census(committed_run).values())
    n_read = scan_num_files(got, os.path.basename(committed_run))
    # the fixture commits 8 buckets: a lookup plans over ~1/8 of files
    assert 0 < n_read < total_files / 2, (n_read, total_files)

    expected = sorted(
        map(tuple, full.filter(F.col("conv_id") == conv).collect())
    )
    assert expected, "fixture conversation unexpectedly empty"
    assert sorted(map(tuple, got.collect())) == expected

    # unknown conversation: empty result, and the bucket filter prunes
    # the scan to zero files
    miss = ss.read_conversation(spark, "no-such-conversation")
    assert miss.count() == 0


def test_point_lookup_prunes_below_partition_dir(spark, compact_out):
    """Commit-time ``_filestats.json`` (per-file conv_id bounds — the
    Iceberg manifest column-bounds analogue) must prune a point lookup
    BELOW bucket-dir granularity: after compaction rolls each sorted
    (bucket, sink) partition into several range-disjoint files, the
    lookup plans only the files whose [min, max] can contain the key,
    not every file in the bucket dir. At 100 TB this is the difference
    between opening ~2 files and ~200 per lookup."""
    from conftest import scan_num_files

    ss = SinkSet(out_dir=compact_out)
    res = ss.compact(spark, max_records_per_file=50)
    assert res["rewritten_buckets"], res
    manifest = load_manifest(compact_out)
    b0 = res["rewritten_buckets"][0]
    run_id = manifest["buckets"][str(b0)]["run_id"]
    stats = ss._file_stats(run_id)
    assert stats, "compaction commit did not emit _filestats.json"

    full = ss._read_committed(spark)
    conv = full.select("conv_id").first()["conv_id"]
    b = int(
        spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(conv)),
                   F.lit(int(manifest["n_buckets"]))).cast("int")
        ).first()[0]
    )
    hit_run = manifest["buckets"][str(b)]["run_id"]
    bucket_files = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(
            os.path.join(compact_out, "runs", hit_run, f"bucket={b}"))
    )
    assert bucket_files > 3, (
        "rolling produced too few files per bucket — the pruning test "
        "lost its subject; shrink max_records_per_file"
    )

    got = ss.read_conversation(spark, conv)
    n_read = scan_num_files(got, os.path.basename(compact_out))
    assert 0 < n_read < bucket_files, (n_read, bucket_files)

    expected = sorted(
        map(tuple, full.filter(F.col("conv_id") == conv).collect()))
    assert expected
    assert sorted(map(tuple, got.collect())) == expected

    # bounds that exclude the key everywhere: dir-granularity fallback
    # still answers (0 rows), never raises
    assert ss.read_conversation(spark, "no-such-conversation").count() == 0

    # a pre-stats run (sidecar missing) keeps the dir-granularity read
    os.remove(os.path.join(compact_out, "runs", hit_run, "_filestats.json"))
    again = ss.read_conversation(spark, conv)
    assert sorted(map(tuple, again.collect())) == expected


def test_snapshot_time_travel(spark, compact_out):
    """Manifest time travel (the VERSION AS OF analogue): snapshots()
    exposes the commit log, read_routed(as_of=k) plans over the
    bucket -> run mapping as of commit k, compaction appends a
    snapshot without changing any snapshot's visible rows, and vacuum
    expires pre-compaction snapshots LOUDLY (FileNotFoundError), never
    silently under-reads them."""
    ss = SinkSet(out_dir=compact_out)
    snaps = ss.snapshots()
    assert len(snaps) >= 2, snaps  # fixture commits in 2 bucket groups

    first = ss.read_routed(spark, as_of=0)
    got_buckets = {r["bucket"] for r in first.select("bucket").distinct().collect()}
    assert got_buckets <= set(snaps[0]["committed_buckets"])
    live = ss.read_routed(spark)
    n_live = live.count()
    assert first.count() < n_live  # later commits invisible at snapshot 0
    assert ss.read_routed(spark, as_of=len(snaps) - 1).count() == n_live

    with pytest.raises(IndexError):
        ss._buckets_as_of(len(snaps))

    # full-rewrite compaction = one more snapshot; every prior snapshot
    # still reads (min_files_per_partition=1 repoints every bucket, so
    # vacuum below orphans ALL pre-compaction runs)
    assert SinkSet(out_dir=compact_out).compact(
        spark, min_files_per_partition=1)["rewritten_buckets"]
    ss2 = SinkSet(out_dir=compact_out)
    snaps2 = ss2.snapshots()
    assert len(snaps2) == len(snaps) + 1
    assert "compaction_of" in snaps2[-1]
    assert ss2.read_routed(spark, as_of=len(snaps2) - 1).count() == n_live
    assert ss2.read_routed(spark, as_of=0).count() == first.count()

    # vacuum expires the rewritten runs: expired snapshots raise
    removed = SinkSet(out_dir=compact_out).vacuum(min_age_minutes=0)
    assert removed
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        ss2.read_routed(spark, as_of=0)
    assert SinkSet(out_dir=compact_out).read_routed(
        spark, as_of=len(snaps2) - 1).count() == n_live


def test_incremental_changes(spark, compact_out):
    """changes(since, until) must partition the table exactly: the
    snapshot-0 delta plus the snapshot-1 delta equals the live table
    (buckets are single-commit units), compaction snapshots contribute
    an EMPTY delta (a rewrite adds no records), and the full-range
    delta equals a full read."""
    ss = SinkSet(out_dir=compact_out)
    snaps = ss.snapshots()
    assert len(snaps) >= 2
    table = ss._read_committed(spark)
    live = sorted(map(tuple, table.collect()))

    def rows(since, until=None):
        return list(map(tuple, ss.changes(spark, since=since, until=until)
                        .select(*table.columns).collect()))

    assert sorted(rows(-1, 0) + rows(0, 1)) == live
    assert sorted(rows(-1)) == live

    with pytest.raises(IndexError):
        ss.changes(spark, since=len(snaps))

    # compaction: one more snapshot, but its delta is empty
    assert SinkSet(out_dir=compact_out).compact(
        spark, min_files_per_partition=1)["rewritten_buckets"]
    ss2 = SinkSet(out_dir=compact_out)
    assert ss2.changes(spark, since=len(snaps) - 1).count() == 0
    # pre-compaction deltas expire with their runs
    SinkSet(out_dir=compact_out).vacuum(min_age_minutes=0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        ss2.changes(spark, since=-1, until=0)


def test_cross_run_schema_drift_union_and_compact(spark, fixture_sf_small,
                                                  tmp_path):
    """Schema evolution across commits: a run WITHOUT dictionaries
    commits half the buckets (no enrichment columns), a resumed run
    WITH dictionaries commits the rest (wider schema). Readers must
    union with nulls for the missing columns (allowMissingColumns —
    the table-format schema-evolution answer) and compaction must
    rewrite across the drifted runs without AnalysisException."""
    out = str(tmp_path / "t")
    src = f"{fixture_sf_small}/transcripts.parquet"
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run(spark, source_path=src, out_dir=out, rules_path=RULES,
                     buckets=8, groups=2, fail_after_groups=1)
    pipeline.run(spark, source_path=src, out_dir=out, rules_path=RULES,
                 dict_dir=fixture_sf_small, buckets=8, groups=2)

    sink = SinkSet(out_dir=out)
    manifest = load_manifest(out)["buckets"]
    runs = {m["run_id"] for m in manifest.values()}
    assert len(runs) >= 2, "fixture failed to produce drifted runs"

    df = sink.read_routed(spark)
    assert "role_class" in df.columns  # wider run's column visible
    rows = df.select("bucket", "role_class").collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], set()).add(r["role_class"] is None)
    # the narrow run's buckets read ALL-null; the wide run's buckets
    # have values (mixed with legitimate left-join-miss nulls)
    all_null = {b for b, s in by_bucket.items() if s == {True}}
    has_vals = {b for b, s in by_bucket.items() if False in s}
    assert all_null and has_vals and not (all_null & has_vals)
    assert all_null | has_vals == set(by_bucket)

    n_before = df.count()
    res = sink.compact(spark, min_files_per_partition=1)
    assert res["rewritten_buckets"]
    after = SinkSet(out_dir=out).read_routed(spark)
    assert after.count() == n_before
    # conservation survived the cross-schema rewrite
    assert load_manifest(out)["buckets"].keys() == manifest.keys()


def _rewritten_file_bounds(out_dir: str, buckets: list[int]):
    """Per parquet file (ts_min, ts_max, conv_min, conv_max) from
    footer row-group statistics, for the given buckets' committed
    files — what read-side file skipping actually consults."""
    import pyarrow.parquet as apq

    manifest = load_manifest(out_dir)
    out = []
    for b in buckets:
        meta = manifest["buckets"][str(b)]
        base = os.path.join(out_dir, "runs", meta["run_id"], f"bucket={b}")
        for root, _, files in os.walk(base):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = apq.ParquetFile(os.path.join(root, f)).metadata
                names = {md.schema.column(i).name: i
                         for i in range(md.num_columns)}
                tmin = tmax = cmin = cmax = None
                for rg in range(md.num_row_groups):
                    ts_st = md.row_group(rg).column(names["ts"]).statistics
                    cv_st = md.row_group(rg).column(
                        names["conv_id"]).statistics
                    tmin = ts_st.min if tmin is None else min(tmin, ts_st.min)
                    tmax = ts_st.max if tmax is None else max(tmax, ts_st.max)
                    cmin = cv_st.min if cmin is None else min(cmin, cv_st.min)
                    cmax = cv_st.max if cmax is None else max(cmax, cv_st.max)
                out.append((tmin, tmax, cmin, cmax))
    return out


def test_zorder_conv_proxy_exact_in_double(spark):
    """The conv_id proxy sums byte terms in a double, so it is only
    order-preserving while the sum stays below 2^53: six varying bytes
    (max 256^6 - 1) keep it exact. Ids that differ only in the sixth
    varying byte must get distinct, ordered, exact values."""
    _, csql = SinkSet._z_dim_sql(4)
    ids = ["conv" + "\xff" * 5 + "\xfe", "conv" + "\xff" * 6,
           "convzzzzzy", "convzzzzzz"]
    got = [r[0] for r in spark.createDataFrame(
        [(i,) for i in ids], "conv_id string").selectExpr(csql).collect()]
    want = [int.from_bytes(i[4:].encode("latin-1"), "big") for i in ids]
    assert got == [float(w) for w in want]
    assert got[0] < got[1] and got[2] < got[3]
    assert max(want) < 2 ** 53


def test_compact_zorder_bounds_both_dims(spark, committed_run, tmp_path):
    """sort_order="zorder" (interleaved quantized ts x conv-hash bits)
    must yield files whose footer bounds prune BOTH read patterns:
    strictly better conv-point pruning than "time" clustering AND
    strictly better time-range pruning than "key" clustering — the
    mixed-workload layout neither single-dim order provides. Rows are
    identical under all three orders (clustering is layout, not
    content)."""
    import datetime as dt

    tables = {}
    results = {}
    for order in ("key", "time", "zorder"):
        out = str(tmp_path / order)
        shutil.copytree(committed_run, out)
        res = SinkSet(out_dir=out).compact(
            spark, max_records_per_file=150, sort_order=order)
        assert res["rewritten_buckets"], order
        tables[order] = out
        results[order] = res

    # identical rewritten bucket sets -> comparable censuses
    common = sorted(set(results["key"]["rewritten_buckets"])
                    & set(results["time"]["rewritten_buckets"])
                    & set(results["zorder"]["rewritten_buckets"]))
    assert common

    rows_by_order = {
        o: sorted(map(tuple, SinkSet(out_dir=t).read_routed(spark)
                      .select("sink_id", "conv_id", "turn_idx", "rendered")
                      .collect()))
        for o, t in tables.items()
    }
    assert rows_by_order["key"] == rows_by_order["time"] \
        == rows_by_order["zorder"]

    bounds = {o: _rewritten_file_bounds(t, common)
              for o, t in tables.items()}
    n_files = {o: len(b) for o, b in bounds.items()}
    assert min(n_files.values()) > len(common)  # rolled files exist

    convs = sorted({c for _, c, _, _ in rows_by_order["key"]})[::7][:24]
    tmins = min(b[0] for b in bounds["key"])
    tmaxs = max(b[1] for b in bounds["key"])
    span = (tmaxs - tmins) or dt.timedelta(seconds=1)
    t_probes = [(tmins + span * i / 16, tmins + span * (2 * i + 1) / 32)
                for i in range(8)]

    def conv_frac(bs):
        hit = sum(1 for c in convs for (_, _, cmin, cmax) in bs
                  if cmin <= c <= cmax)
        return hit / (len(convs) * len(bs))

    def ts_frac(bs):
        hit = sum(1 for lo, hi in t_probes for (tmin, tmax, _, _) in bs
                  if not (tmax < lo or tmin > hi))
        return hit / (len(t_probes) * len(bs))

    cf = {o: conv_frac(b) for o, b in bounds.items()}
    tf = {o: ts_frac(b) for o, b in bounds.items()}
    # single-dim orders are one-sided; z-order must beat each order on
    # the dimension that order sacrifices
    assert cf["zorder"] < 0.9 * cf["time"], (cf, n_files)
    assert tf["zorder"] < 0.9 * tf["key"], (tf, n_files)
    # and the single-dim winners stay best on their own dimension
    assert cf["key"] <= cf["zorder"], cf
    assert tf["time"] <= tf["zorder"], tf


def test_zvalue_degenerate_dimensions(spark):
    """Edge inputs the quantile machinery must survive: a constant ts
    (all 255 boundaries equal — every row lands in one time bucket),
    a single conv_id (common prefix = the whole string, proxy 0 for
    all rows), and their combination. The z expression must evaluate
    without error and stay constant where its inputs are constant."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [("convA", t0), ("convA", t0), ("convA", t0)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp_ntz")
    z = df.select(SinkSet._zvalue_col(df).alias("z")).collect()
    assert len({r["z"] for r in z}) == 1  # fully degenerate -> one z

    # one varying dimension still spreads z values
    rows2 = [(f"conv{i:03d}", t0 + dt.timedelta(minutes=i))
             for i in range(64)]
    df2 = spark.createDataFrame(rows2, "conv_id string, ts timestamp_ntz")
    z2 = {r["z"] for r in
          df2.select(SinkSet._zvalue_col(df2).alias("z")).collect()}
    assert len(z2) > 16
