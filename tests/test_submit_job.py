"""Ship-path test: the job runs via spark-submit --py-files from a
clean cwd (the production deployment shape, BASELINE.json:6)."""

from __future__ import annotations

import json
import os
import subprocess

from logparse_spark.packaging import build_pyfiles_zip


def _run_job(tmp_path, fixture_dir, out_name, master, shuffle_partitions):
    zpath = build_pyfiles_zip(str(tmp_path))
    out_dir = str(tmp_path / out_name)
    cmd = [
        "spark-submit",
        "--master", master,
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.sql.shuffle.partitions={shuffle_partitions}",
        "--py-files", zpath,
        "/root/repo/jobs/submit_pipeline.py",
        "--source", os.path.join(fixture_dir, "transcripts.parquet"),
        "--dict-dir", fixture_dir,
        "--out", out_dir,
        "--rules", "/root/repo/rules/default.rules",
        "--buckets", "16", "--groups", "1",
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd=str(tmp_path)
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return out_dir


def test_results_identical_across_parallelism(tmp_path, fixture_sf_small, spark):
    """North-rule correctness gate: per-sink counts AND routed rows must
    be EXACTLY equal at N and 4N parallelism (BASELINE.json: "must match
    ... exactly at both N and 4N executors"). Runs the real ship-path
    job at local[2] and local[8] and diffs the written sinks."""
    lo = _run_job(tmp_path, fixture_sf_small, "routed_lo", "local[2]", 4)
    hi = _run_job(tmp_path, fixture_sf_small, "routed_hi", "local[8]", 16)

    def load(out_dir):
        data = os.path.join(out_dir, "runs")
        df = spark.read.option("basePath", data).parquet(data)
        rows = df.select("sink_id", "conv_id", "turn_idx", "rule_id",
                         "rendered").collect()
        return sorted(map(tuple, rows))

    rows_lo, rows_hi = load(lo), load(hi)
    assert len(rows_lo) == 5000
    assert rows_lo == rows_hi


def test_spark_submit_pyfiles(tmp_path, fixture_sf_small):
    zpath = build_pyfiles_zip(str(tmp_path))
    out_dir = str(tmp_path / "routed")
    report = str(tmp_path / "report.txt")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zpath,
        "/root/repo/jobs/submit_pipeline.py",
        "--source", os.path.join(fixture_sf_small, "transcripts.parquet"),
        "--dict-dir", fixture_sf_small,
        "--out", out_dir,
        "--rules", "/root/repo/rules/default.rules",
        "--buckets", "16", "--groups", "2",
        "--report", report,
        # WAP gate wired through the ship path (passing bounds)
        "--audit-min-rows", "1", "--audit-max-unmatched-frac", "0.9",
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd=str(tmp_path)
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["processed_buckets"] == 16
    assert result["rows"] == 5000  # every turn accounted for (sf0.001)

    # the same command against a fresh table with an unsatisfiable
    # audit bound must FAIL the submit and publish nothing
    cmd2 = [c for c in cmd]
    cmd2[cmd2.index("--out") + 1] = str(tmp_path / "routed_gated")
    cmd2[cmd2.index("--audit-min-rows") + 1] = "999999999"
    cmd2[cmd2.index("--report") + 1] = str(tmp_path / "report2.txt")
    proc = subprocess.run(
        cmd2, capture_output=True, text=True, timeout=300, cwd=str(tmp_path)
    )
    assert proc.returncode != 0
    # spark-submit surfaces the driver's Python traceback on stdout
    assert "rows_at_least" in proc.stdout + proc.stderr
    from logparse_spark.sinks import load_manifest

    assert load_manifest(str(tmp_path / "routed_gated"))["buckets"] == {}
    assert os.path.exists(os.path.join(out_dir, "_manifest", "committed.json"))
    with open(report, encoding="utf-8") as f:
        txt = f.read()
    assert "rule authfail" in txt and "unmatched:" in txt


def test_table_tool_cli(tmp_path, fixture_sf_small, spark):
    """The operational CLI, driven the way an operator would: build a
    table via the ship path, then exercise snapshots (plain python, no
    Spark) and a bucket-pruned delete (spark-submit) end to end."""
    import sys

    out_dir = _run_job(tmp_path, fixture_sf_small, "routed_tt", "local[4]", 8)
    tool = "/root/repo/jobs/table_tool.py"

    # snapshots: a pure manifest read, runs under plain `python`
    proc = subprocess.run(
        [sys.executable, tool, "--out", out_dir, "snapshots"],
        capture_output=True, text=True, timeout=60, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    snaps = json.loads(proc.stdout.strip().splitlines()[-1])["snapshots"]
    assert snaps and snaps[0]["snapshot_id"] == 0

    # timerange: event-time range read (ts-bounds file skipping path);
    # wide bounds must return every routed row of the table
    proc = subprocess.run(
        [sys.executable, tool, "--out", out_dir, "timerange",
         "--from", "2000-01-01", "--to", "2100-01-01"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["rows"] > 0 and res["per_sink"]

    # delete: a real Spark job through spark-submit --py-files
    conv = spark.read.parquet(
        os.path.join(fixture_sf_small, "transcripts.parquet")
    ).select("conv_id").first()["conv_id"]
    zpath = build_pyfiles_zip(str(tmp_path))
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zpath, tool,
         "--out", out_dir, "delete", "--conv-id", conv],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["rows_deleted"] > 0 and len(res["rewritten_buckets"]) == 1

    # the table reflects the delete and logs the snapshot
    from logparse_spark.sinks import SinkSet

    ss = SinkSet(out_dir=out_dir)
    assert ss._read_committed(spark).filter(
        f"conv_id = '{conv}'").count() == 0
    assert "delete_of" in ss.snapshots()[-1]

    # rollback: pure manifest+footer op, plain `python` again — undo
    # the delete by repointing the table at the pre-delete snapshot
    pre = len(ss.snapshots()) - 2
    proc = subprocess.run(
        [sys.executable, tool, "--out", out_dir,
         "rollback", "--to", str(pre)],
        capture_output=True, text=True, timeout=60, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["buckets"] > 0
    ss2 = SinkSet(out_dir=out_dir)
    assert "rollback_to" in ss2.snapshots()[-1]
    assert ss2._read_committed(spark).filter(
        f"conv_id = '{conv}'").count() > 0

    # rebucket: partition evolution through the same ship path — the
    # rolled-back table doubles its bucket count; the conversation
    # stays readable via a lookup hashed under the NEW count
    from logparse_spark.sinks import load_manifest

    new_n = 2 * int(load_manifest(out_dir)["n_buckets"])
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zpath, tool,
         "--out", out_dir, "rebucket", "--to-buckets", str(new_n)],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, (
        "STDOUT:" + proc.stdout[-2000:] + "\nSTDERR:" + proc.stderr[-2000:])
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["n_buckets_after"] == new_n and res["rows"] > 0
    ss4 = SinkSet(out_dir=out_dir)
    assert ss4.snapshots()[-1].get("rebucket_to") == new_n
    assert ss4.read_conversation(spark, conv).count() > 0


def test_spark_submit_applog_extraction(tmp_path):
    """The ship path for NON-syslog raw ingest: spark-submit --py-files
    + --source-format multiline with an extraction-template rules file
    parses raw Java app logs end to end (assembly + header extraction
    + sum/count rules + report), all through the real CLI."""
    from logparse_spark.fixtures.gen_applog import ensure_applog_fixture

    zpath = build_pyfiles_zip(str(tmp_path))
    out_dir = str(tmp_path / "routed_applog")
    report = str(tmp_path / "applog_report.txt")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zpath,
        "/root/repo/jobs/submit_pipeline.py",
        "--source", ensure_applog_fixture("0.001"),
        "--source-format", "multiline",
        "--out", out_dir,
        "--rules", "/root/repo/rules/applog.rules",
        "--buckets", "8", "--groups", "1",
        "--report", report,
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=300, cwd=str(tmp_path)
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["rows"] == 700  # every assembled record accounted for
    with open(report, encoding="utf-8") as f:
        txt = f.read()
    assert "rule timeouts (sum):" in txt
    assert "timeout_ms:" in txt          # the sum accumulator rendered
    assert "rule requests (count):" in txt


def test_table_tool_mv_cli(tmp_path, fixture_sf_small, spark):
    """Materialized-view legs of the operational CLI, end to end the
    way an operator drives a dashboard table: status (staleness probe,
    plain python — no Spark), refresh through the real spark-submit
    ship path, read (the dashboard query), then a new table commit and
    the status/refresh/read loop again."""
    import sys

    from logparse_spark.sinks import SinkSet

    out_dir = _run_job(tmp_path, fixture_sf_small, "routed_mv", "local[4]", 8)
    tool = "/root/repo/jobs/table_tool.py"
    view = str(tmp_path / "view")

    def run_py(*ops):
        proc = subprocess.run(
            [sys.executable, tool, "--out", out_dir, *ops],
            capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # status before any refresh: uninitialized, table log visible
    st = run_py("mv-status", "--view-dir", view)
    assert st["initialized"] is False and st["table_snapshot"] >= 0
    assert st["snapshots_behind"] is None

    # first refresh = full baseline, through spark-submit --py-files
    zpath = build_pyfiles_zip(str(tmp_path))
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zpath, tool,
         "--out", out_dir, "mv-refresh", "--view-dir", view],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["mode"] == "full"

    st = run_py("mv-status", "--view-dir", view)
    assert st["initialized"] is True and st["snapshots_behind"] == 0
    assert st["retained_versions"] == 0  # nothing superseded yet

    # read equals the direct aggregate over the routed table
    got = run_py("mv-read", "--view-dir", view)
    assert got["n"] > 0
    from pyspark.sql import functions as F

    truth = {
        (r["sink_id"], str(r["day"])): r["n"]
        for r in SinkSet(out_dir=out_dir).read_routed(spark)
        .filter(F.col("sink_id") != "ignored")
        .groupBy("sink_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {(r["sink_id"], str(r["day"])): r["n"]
            for r in map(dict, (got["rows"]))} == truth

    # sink filter narrows the read to one sink's rows
    one_sink = got["rows"][0]["sink_id"]
    flt = run_py("mv-read", "--view-dir", view, "--sink-id", one_sink)
    assert flt["n"] > 0
    assert {r["sink_id"] for r in flt["rows"]} == {one_sink}

    # sketch-based cardinality leg rides the same built table: SAME
    # sink set as the exact leg (incl. 'ignored'), per-sink estimates
    # equal the exact counts at this size (HLL exact mode)
    approx = run_py("cardinality", "--approx")
    assert approx["approx"] is True
    exact = run_py("cardinality")
    assert set(approx["per_sink"]) == set(exact)
    for k, n in exact.items():
        assert abs(approx["per_sink"][k] - n) <= max(2, 0.08 * n)
    assert approx["total_distinct_convs"] >= max(approx["per_sink"].values())

    # a new table snapshot makes the view stale; refresh catches up
    SinkSet(out_dir=out_dir).compact(spark, min_files_per_partition=1)
    st = run_py("mv-status", "--view-dir", view)
    assert st["snapshots_behind"] == 1
    res = run_py("mv-refresh", "--view-dir", view)
    assert res["mode"] in ("incremental", "full")
    st = run_py("mv-status", "--view-dir", view)
    assert st["snapshots_behind"] == 0

    # the change feed across an upsert: the signed counts the CLI
    # prints are the merge's own
    import datetime

    from logparse_spark import pipeline

    conv = SinkSet(out_dir=out_dir)._read_committed(spark) \
        .select("conv_id").first()["conv_id"]
    src = str(tmp_path / "upsert.parquet")
    ts = datetime.datetime(2026, 5, 3)
    spark.createDataFrame(
        [(conv, 0, "assistant", "login failed for user cli", None, ts),
         ("convCLI0001", 0, "assistant", "heartbeat ping seq=5", None, ts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp_ntz",
    ).coalesce(1).write.parquet(src)
    res = pipeline.upsert(spark, src, out_dir,
                          rules_path=os.path.join(
                              os.path.dirname(__file__), os.pardir,
                              "rules", "default.rules"),
                          dict_dir=fixture_sf_small)
    assert res["rows_deleted"] > 0 and res["rows_inserted"] == 2
    latest = len(SinkSet(out_dir=out_dir).snapshots()) - 1
    ch = run_py("changes", "--since", str(latest - 1))
    assert (ch["inserted"], ch["deleted"]) == \
        (res["rows_inserted"], res["rows_deleted"])
