"""Streaming wrapper tests: identical results to the batch path.

Property: running the stream to completion (availableNow) over a
multi-file source produces exactly the batch per-sink counts, and the
checkpoint makes a re-run a no-op (streaming exactly-once).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logparse_spark import stages, streaming
from logparse_spark.rules import load_rules

RULES = "/root/repo/rules/default.rules"


@pytest.fixture(scope="module")
def stream_src(tmp_path_factory, fixture_sf_small):
    """The sf0.001 fixture split into 3 parquet files (stream arrivals)."""
    src = tmp_path_factory.mktemp("stream_src")
    t = pq.read_table(os.path.join(fixture_sf_small, "transcripts.parquet"))
    n = t.num_rows
    for i in range(3):
        pq.write_table(t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
                       os.path.join(str(src), f"part-{i}.parquet"))
    return str(src)


def test_stream_matches_batch(spark, stream_src, tmp_path):
    out = str(tmp_path / "out")
    streaming.run_stream(spark, stream_src, out, RULES)

    routed = spark.read.parquet(os.path.join(out, "routed"))
    got = {
        r["sink_id"]: r["n"]
        for r in routed.groupBy("sink_id").agg(F.count("*").alias("n")).collect()
    }

    batch = stages.parse_match(
        spark.read.parquet(stream_src), load_rules(RULES)
    )
    want = {
        r["sink_id"]: r["n"]
        for r in stages.sink_counts(stages.routed(batch)).collect()
    }
    assert got == want

    # re-run: checkpoint has consumed all files -> no new rows appended
    streaming.run_stream(spark, stream_src, out, RULES)
    total_after = spark.read.parquet(os.path.join(out, "routed")).count()
    assert total_after == sum(want.values())


def test_windowed_counts_stateful(spark, stream_src, tmp_path):
    compiled = load_rules(RULES)
    sdf = streaming.stream_transcripts(spark, stream_src)
    agg = streaming.windowed_sink_counts(sdf, compiled, window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT sink_id, sum(n) AS n FROM win_counts GROUP BY sink_id"
    ).collect()
    got = {r["sink_id"]: r["n"] for r in got}

    batch = stages.parse_match(spark.read.parquet(stream_src), compiled, engine="sql")
    want = {
        r["sink_id"]: r["n"]
        for r in stages.sink_counts(stages.routed(batch)).collect()
    }
    assert got == want


def test_windowed_keyed_sums_match_batch(spark, stream_src, tmp_path):
    """Streaming twin of keyed_sums: windowed SUM-action totals over
    the stream equal the batch groupBy(date_trunc(hour), rule, key)
    sums exactly."""
    compiled = load_rules("/root/repo/rules/metrics.rules")
    sdf = streaming.stream_transcripts(spark, stream_src)
    agg = streaming.windowed_keyed_sums(sdf, compiled, window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("win_sums")
        .option("checkpointLocation", str(tmp_path / "cp_sums"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(str(r["win_start"]), r["rule_name"], r["count_key"]):
           (r["total"], r["n"])
           for r in spark.sql("SELECT * FROM win_sums").collect()}

    batch = stages.parse_match(
        spark.read.parquet(stream_src), compiled, engine="sql")
    want = {(str(r["w"]), r["rule_name"], r["count_key"]):
            (r["total"], r["n"])
            for r in batch.filter(F.col("action") == "sum")
            .groupBy(F.date_trunc("hour", "ts").alias("w"),
                     "rule_name", "count_key")
            .agg(F.sum(F.col("rendered").cast("double")).alias("total"),
                 F.count(F.lit(1)).alias("n")).collect()}
    assert got == want and got


def test_foreachbatch_retry_idempotent(spark, stream_src, tmp_path):
    """foreachBatch is at-least-once: a batch can re-run with the same
    batch_id after a crash between sink write and checkpoint commit.
    The writer must be idempotent — re-invoking it with the same
    batch_id must not change the routed row count."""
    out = str(tmp_path / "out")
    compiled = load_rules(RULES)
    write_batch = streaming.make_batch_writer(compiled, out)
    df = spark.read.parquet(stream_src)

    write_batch(df, 0)
    n1 = spark.read.parquet(os.path.join(out, "routed")).count()
    write_batch(df, 0)  # simulated retry of the SAME batch
    n2 = spark.read.parquet(os.path.join(out, "routed")).count()
    assert n1 == n2
    write_batch(df, 1)  # a NEW batch appends its own directory
    n3 = spark.read.parquet(os.path.join(out, "routed")).count()
    assert n3 == 2 * n1


def test_session_windows_multibatch(spark, tmp_path_factory, tmp_path):
    """session_window must MERGE sessions across micro-batches: the
    events table arrives as 3 time-ordered files, one per trigger, so
    sessions spanning a file boundary only come out right if the state
    store carries the open session into the next batch. Truth = batch
    gaps-and-islands with the same strict >30min boundary."""
    src = tmp_path_factory.mktemp("events_stream")
    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = t.num_rows
    for i in range(3):
        pq.write_table(t.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3),
                       os.path.join(str(src), f"part-{i}.parquet"))

    schema = streaming.EVENTS_STREAM_SCHEMA
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src)))
    agg = streaming.session_counts(sdf, gap="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("sess_multi")
        .option("checkpointLocation", str(tmp_path / "cp3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["sess_start"]): r["n_events"]
        for r in spark.table("sess_multi").collect()
    }

    from pyspark.sql.window import Window

    ev = spark.read.parquet(str(src))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    islands = (
        ev.withColumn("pts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("pts").isNull()
                | (F.expr("timestampdiff(MICROSECOND, pts, ts)")
                   > 1_800_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    want = {
        (r["user_id"], r["sess_start"]): r["n_events"]
        for r in islands.groupBy("user_id", "sid")
        .agg(F.min("ts").alias("sess_start"), F.count("*").alias("n_events"))
        .collect()
    }
    assert got == want
    # guard against fixture drift: at least one session must actually
    # span a file boundary (sessions computed per-file and summed must
    # exceed the global count, i.e. some merged across batches)
    per_file_sessions = 0
    for i in range(3):
        fi = spark.read.parquet(os.path.join(str(src), f"part-{i}.parquet"))
        per_file_sessions += (
            fi.withColumn("pts", F.lag("ts").over(w))
            .withColumn(
                "new_sess",
                F.when(
                    F.col("pts").isNull()
                    | (F.expr("timestampdiff(MICROSECOND, pts, ts)")
                       > 1_800_000_000),
                    1,
                ).otherwise(0),
            )
            .agg(F.sum("new_sess")).collect()[0][0]
        )
    assert per_file_sessions > len(got), "no session spanned a batch boundary"


def test_session_window_exact_boundary(spark, tmp_path):
    """Pin the session-merge semantics at the EXACT gap boundary
    (measure-zero in the random fixture): Spark's session end is
    INCLUSIVE — with a 30-min gap, an event arriving exactly 30:00
    after the previous one still MERGES; only a strictly larger gap
    (30:01) opens a new session. The DuckDB oracles use the matching
    strict > boundary."""
    import datetime as dt

    import pyarrow as pa

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    offs = [0,             # session 1 start
            1799,          # +29:59 -> merges
            1799 + 1800,   # +30:00 exactly -> STILL merges (inclusive)
            1799 + 1800 + 1801]  # +30:01 -> NEW session 2
    tbl = pa.table({
        "event_id": pa.array(range(4), type=pa.int64()),
        "ts": pa.array([base + dt.timedelta(seconds=s) for s in offs],
                       type=pa.timestamp("us")),
        "user_id": pa.array([7] * 4, type=pa.int64()),
        "event_type": pa.array(["x"] * 4),
        "value": pa.array([0.0] * 4),
        "props": pa.array(["{}"] * 4),
    })
    src = tmp_path / "boundary_events"
    src.mkdir()
    pq.write_table(tbl, str(src / "part-0.parquet"))

    schema = streaming.EVENTS_STREAM_SCHEMA
    sdf = spark.readStream.schema(schema).parquet(str(src))
    agg = streaming.session_counts(sdf, gap="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("sess_boundary")
        .option("checkpointLocation", str(tmp_path / "cpb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["sess_start"], r["n_events"])
        for r in spark.table("sess_boundary").collect()
    )
    want = [
        (base, 3),
        (base + dt.timedelta(seconds=offs[3]), 1),
    ]
    assert got == want


def test_conversation_progress_stateful(spark, stream_src, tmp_path):
    """applyInPandasWithState: final per-conv state equals batch truth."""
    from logparse_spark import streaming as st

    compiled = load_rules(RULES)
    sdf = st.stream_transcripts(spark, stream_src, max_files_per_trigger=1)
    prog = st.conversation_progress(sdf, compiled)
    q = (
        prog.writeStream.outputMode("update")
        .format("memory").queryName("conv_prog")
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per conv per batch; last emission wins
    got = spark.sql(
        """
        SELECT conv_id, turns_seen, max_turn, routed FROM (
          SELECT *, row_number() OVER (
            PARTITION BY conv_id ORDER BY turns_seen DESC) rn
          FROM conv_prog
        ) WHERE rn = 1
        """
    ).toPandas().set_index("conv_id")

    batch = stages.parse_match(
        spark.read.parquet(stream_src), load_rules(RULES), engine="sql"
    )
    want = (
        batch.groupBy("conv_id").agg(
            F.count("*").alias("turns_seen"),
            F.max("turn_idx").alias("max_turn"),
            F.sum(F.when(F.col("action") != "ignore", 1).otherwise(0)).alias("routed"),
        )
        .toPandas().set_index("conv_id")
    )
    assert len(got) == len(want)
    joined = got.join(want, lsuffix="_s", rsuffix="_b")
    assert (joined["turns_seen_s"] == joined["turns_seen_b"]).all()
    assert (joined["max_turn_s"] == joined["max_turn_b"]).all()
    assert (joined["routed_s"] == joined["routed_b"]).all()


def test_sink_layout_guard(tmp_path):
    """make_batch_writer refuses a sink written under a different (or
    unmarked pre-versioning) layout instead of failing later inside
    Spark partition discovery."""
    import os

    import pytest

    from logparse_spark import streaming
    from logparse_spark.rules import load_rules

    compiled = load_rules("/root/repo/rules/default.rules")
    out = str(tmp_path / "s1")
    streaming.make_batch_writer(compiled, out)  # fresh dir: writes marker
    with open(os.path.join(out, "routed", "_LAYOUT")) as f:
        assert f.read().strip() == streaming.SINK_LAYOUT
    streaming.make_batch_writer(compiled, out)  # same layout: fine

    with open(os.path.join(out, "routed", "_LAYOUT"), "w") as f:
        f.write("sink_id/v0\n")
    with pytest.raises(RuntimeError, match="layout"):
        streaming.make_batch_writer(compiled, out)

    out2 = str(tmp_path / "s2")
    os.makedirs(os.path.join(out2, "routed", "sink_id=authfail"))
    with pytest.raises(RuntimeError, match="_LAYOUT"):
        streaming.make_batch_writer(compiled, out2)


def test_dedup_stream_exactly_once_across_batches(spark, tmp_path):
    """dedup_stream collapses at-least-once delivery: the same events
    re-delivered in a LATER micro-batch (the producer-retry /
    replayed-partition shape) are emitted exactly once, and the output
    equals the batch dropDuplicates on the same keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparse_spark import streaming

    src = tmp_path / "dedup_src"
    src.mkdir()
    base = {
        "conv_id": [f"c{i}" for i in range(20)],
        "turn_idx": pa.array(list(range(20)), type=pa.int32()),
        "role": ["user"] * 20,
        "text": [f"msg {i}" for i in range(20)],
        "tool": pa.array([None] * 20, type=pa.string()),
        "ts": pa.array(
            [1_700_000_000_000_000 + i * 60_000_000 for i in range(20)],
            type=pa.timestamp("us"),
        ),
    }
    t = pa.table(base)
    # file 1: rows 0..14 (rows 10..14 appear AGAIN in file 2, plus 15..19)
    pq.write_table(t.slice(0, 15), str(src / "part-0.parquet"))
    pq.write_table(t.slice(10, 10), str(src / "part-1.parquet"))

    sdf = streaming.stream_transcripts(spark, str(src), max_files_per_trigger=1)
    deduped = streaming.dedup_stream(
        sdf, keys=["conv_id", "turn_idx"], watermark="365 days"
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.sql(
        "SELECT conv_id, turn_idx FROM dedup_out ORDER BY turn_idx"
    ).collect()
    assert len(got) == 20  # 25 delivered, 5 duplicates collapsed
    assert [r["turn_idx"] for r in got] == list(range(20))
    want = (
        spark.read.parquet(str(src))
        .dropDuplicates(["conv_id", "turn_idx"])
        .select("conv_id", "turn_idx").collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_dedup_stream_resume_from_checkpoint_e2e(spark, tmp_path):
    """Round-3 e2e: dedup_stream -> foreachBatch fan-out sink, stopped
    and RESUMED from the same checkpoint after new files (including
    re-deliveries of already-processed rows) arrive. Locks in:
      (a) the file source does not reprocess drained files on restart;
      (b) dropDuplicatesWithinWatermark state SURVIVES the restart —
          rows re-sent after the stop are still collapsed;
      (c) the combined sink equals the batch dedup+route of everything
          delivered (exactly-once end to end);
      (d) the layout guard refuses to resume onto a sink whose layout
          marker is stale instead of corrupting it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logparse_spark import stages, streaming
    from logparse_spark.rules import load_rules

    compiled = load_rules("/root/repo/rules/default.rules")
    src = tmp_path / "resume_src"
    src.mkdir()
    out = str(tmp_path / "resume_out")
    cp = str(tmp_path / "resume_cp")
    base = {
        "conv_id": [f"c{i}" for i in range(20)],
        "turn_idx": pa.array(list(range(20)), type=pa.int32()),
        "role": ["user"] * 20,
        "text": [f"error code={i}" for i in range(20)],
        "tool": pa.array([None] * 20, type=pa.string()),
        "ts": pa.array(
            [1_700_000_000_000_000 + i * 60_000_000 for i in range(20)],
            type=pa.timestamp("us"),
        ),
    }
    t = pa.table(base)
    pq.write_table(t.slice(0, 15), str(src / "a.parquet"))

    def run_once():
        sdf = streaming.stream_transcripts(spark, str(src))
        deduped = streaming.dedup_stream(
            sdf, keys=["conv_id", "turn_idx"], watermark="365 days"
        )
        q = (
            deduped.writeStream
            .foreachBatch(streaming.make_batch_writer(compiled, out))
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # drains file a, then the query stops (the "kill")
    n_first = spark.read.parquet(os.path.join(out, "routed")).count()
    assert n_first > 0

    # while the stream is down: 5 re-deliveries (rows 10..14) + 5 new
    pq.write_table(t.slice(10, 10), str(src / "b.parquet"))
    run_once()  # resume from the same checkpoint

    routed_out = spark.read.parquet(os.path.join(out, "routed"))
    # (a)+(b): every (conv, turn) lands exactly once across ALL batches
    assert routed_out.groupBy("conv_id", "turn_idx").count() \
        .filter("count > 1").count() == 0
    # the resume processed the genuinely-new rows
    assert routed_out.count() > n_first

    # (c) end-to-end equality with the batch reference
    ref = stages.routed(stages.parse_match(
        spark.read.parquet(str(src)).dropDuplicates(["conv_id", "turn_idx"]),
        compiled,
    )).select("sink_id", "conv_id", "turn_idx")
    got = routed_out.select("sink_id", "conv_id", "turn_idx")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))

    # (d) stale-layout sink: the writer must refuse at build time
    with open(os.path.join(out, "routed", "_LAYOUT"), "w") as f:
        f.write("sink_id/v0\n")
    with pytest.raises(RuntimeError, match="layout"):
        streaming.make_batch_writer(compiled, out)


def test_upsert_stream_cdc(spark, fixture_sf_small, tmp_path):
    """CDC upsert ingestion: re-delivered conversations arriving as a
    stream are MERGED into a committed table — replaced wholesale, new
    conversations inserted, untouched rows bit-identical — and a full
    replay (fresh checkpoint, same source) CONVERGES instead of
    duplicating, the property that makes at-least-once foreachBatch
    exactly-once-equivalent here."""
    import datetime

    from logparse_spark import pipeline
    from logparse_spark.sinks import SinkSet
    from logparse_spark.streaming import upsert_stream

    table = str(tmp_path / "table")
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=table,
        rules_path=RULES,
        dict_dir=fixture_sf_small,
        buckets=8,
    )
    full = lambda: SinkSet(out_dir=table)._read_committed(spark)
    convs = sorted(
        r["conv_id"] for r in full().select("conv_id").distinct().limit(2).collect()
    )
    before = full().collect()
    ts = datetime.datetime(2026, 4, 1)

    src = tmp_path / "updates_src"
    src.mkdir()

    def deliver(name, conv, n_turns, text):
        # flat FILES in the watched dir (the file source does not
        # recurse into Spark-style output directories)
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({
            "conv_id": [conv] * n_turns,
            "turn_idx": pa.array(range(n_turns), type=pa.int32()),
            "role": ["assistant"] * n_turns,
            "text": [text] * n_turns,
            "tool": pa.array([None] * n_turns, type=pa.string()),
            "ts": pa.array([ts] * n_turns,
                           type=pa.timestamp("us")),
        }), str(src / f"{name}.parquet"))

    # arrival 1: conv[0] re-delivered (2 turns) + a brand-new conv
    deliver("f1", convs[0], 2, "err 1 step 1: disk quota exceeded")
    deliver("f1b", "convCDC0001", 3, "login failed for user cdc")
    ckpt = str(tmp_path / "ckpt")
    upsert_stream(spark, str(src), table, rules_path=RULES,
                  checkpoint_dir=ckpt, dict_dir=fixture_sf_small)

    after1 = full().collect()
    assert len([r for r in after1 if r["conv_id"] == convs[0]]) == 2
    assert len([r for r in after1 if r["conv_id"] == "convCDC0001"]) == 3

    # arrival 2 on the SAME checkpoint: only the new file is processed
    deliver("f2", convs[1], 4, "heartbeat ping seq=77")
    upsert_stream(spark, str(src), table, rules_path=RULES,
                  checkpoint_dir=ckpt, dict_dir=fixture_sf_small)
    after2 = full().collect()
    assert len([r for r in after2 if r["conv_id"] == convs[1]]) == 4
    # untouched conversations identical to the original load
    key = lambda r: (r["bucket"], r["sink_id"], r["conv_id"],
                     r["turn_idx"], r["rendered"])
    touched = set(convs) | {"convCDC0001"}
    assert sorted(key(r) for r in after2 if r["conv_id"] not in touched) == \
        sorted(key(r) for r in before if r["conv_id"] not in touched)

    # full replay with a FRESH checkpoint: convergent, no duplication
    upsert_stream(spark, str(src), table, rules_path=RULES,
                  checkpoint_dir=str(tmp_path / "ckpt2"),
                  dict_dir=fixture_sf_small)
    assert sorted(map(key, full().collect())) == sorted(map(key, after2))

    # the merge snapshots are on the log; their signed rows in the
    # change feed take the loaded table (snapshot 0) to the live one
    from collections import Counter

    snaps = SinkSet(out_dir=table).snapshots()
    assert sum(1 for h in snaps if "merge_of" in h) >= 3
    net = Counter(map(key, before))
    for r in SinkSet(out_dir=table).changes(spark, since=0).collect():
        net[key(r)] += -1 if r["_change_type"] == "delete" else 1
    assert sorted(net.elements()) == sorted(map(key, full().collect()))
    assert all(n >= 0 for n in net.values())

    # an unloaded table refuses (no pinned bucket space)
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_stream(spark, str(src), str(tmp_path / "nope"),
                      rules_path=RULES)


def test_upsert_stream_maintains_materialized_view(
        spark, fixture_sf_small, tmp_path):
    """Streaming arm of the materialized view: upsert_stream with
    view_dir= keeps a SinkDailyCounts view current per micro-batch.
    Pinned: (a) after each drain the stream-maintained view equals a
    full recompute over the table; (b) the property SURVIVES a
    kill/resume — a second drain on the same checkpoint after new
    deliveries re-lands the view on the truth; (c) a full replay on a
    fresh checkpoint converges (merge + refresh both derive from
    committed state)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from logparse_spark import pipeline
    from logparse_spark.materialized import SinkDailyCounts
    from logparse_spark.sinks import SinkSet
    from logparse_spark.streaming import upsert_stream

    table = str(tmp_path / "table")
    view_dir = str(tmp_path / "view")
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=table, rules_path=RULES, dict_dir=fixture_sf_small,
        buckets=8,
    )
    mv = SinkDailyCounts(table, view_dir)

    def truth():
        return {
            (r["sink_id"], str(r["day"])): r["n"]
            for r in SinkSet(out_dir=table).read_routed(spark)
            .filter(F.col("sink_id") != "ignored")
            .groupBy("sink_id", F.date_trunc("day", "ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }

    def view():
        return {(r["sink_id"], str(r["day"])): r["n"]
                for r in mv.read(spark).collect()}

    src = tmp_path / "mv_src"
    src.mkdir()
    ts = datetime.datetime(2026, 4, 2)

    def deliver(name, conv, n_turns, text):
        pq.write_table(pa.table({
            "conv_id": [conv] * n_turns,
            "turn_idx": pa.array(range(n_turns), type=pa.int32()),
            "role": ["assistant"] * n_turns,
            "text": [text] * n_turns,
            "tool": pa.array([None] * n_turns, type=pa.string()),
            "ts": pa.array([ts] * n_turns, type=pa.timestamp("us")),
        }), str(src / f"{name}.parquet"))

    deliver("m1", "convMV0001", 3,
            "login failed for user mv from 10.0.0.9")
    ckpt = str(tmp_path / "mv_ckpt")
    upsert_stream(spark, str(src), table, rules_path=RULES,
                  checkpoint_dir=ckpt, dict_dir=fixture_sf_small,
                  view_dir=view_dir)
    assert view() == truth()                      # (a)
    assert ("authfail", "2026-04-02 00:00:00") in view()

    # kill/resume: stream is down while new work arrives, then the
    # SAME checkpoint drains only the new file and re-lands the view
    deliver("m2", "convMV0002", 2, "err 9 step 1: disk quota exceeded")
    upsert_stream(spark, str(src), table, rules_path=RULES,
                  checkpoint_dir=ckpt, dict_dir=fixture_sf_small,
                  view_dir=view_dir)
    after_resume = view()
    assert after_resume == truth()                # (b)

    # full replay, fresh checkpoint: convergent view, no double counts
    upsert_stream(spark, str(src), table, rules_path=RULES,
                  checkpoint_dir=str(tmp_path / "mv_ckpt2"),
                  dict_dir=fixture_sf_small, view_dir=view_dir)
    assert view() == after_resume == truth()      # (c)


def test_interval_join_streams_multibatch(spark, tmp_path_factory, tmp_path):
    """Stream-stream interval join must MATCH ACROSS micro-batches:
    the events table arrives as 3 time-ordered files, one per trigger,
    so a view buffered in batch 0 must still pair with a click
    arriving in batch 1 (within the 10-min window) through the
    symmetric join state. Truth = the batch interval join over the
    same files; the physical plan must carry the symmetric hash join
    (bounded state), not a batch join."""
    src = tmp_path_factory.mktemp("events_join_stream")
    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = t.num_rows
    # split the time-ordered rows BETWEEN a qualifying (view, click)
    # pair, so at least one match provably spans the batch boundary
    pdf = t.to_pandas().sort_values("ts", kind="stable").reset_index(drop=True)
    split_at = None
    views_seen: dict = {}
    for idx, row in pdf.iterrows():
        if row["event_type"] == "view":
            views_seen[row["user_id"]] = (idx, row["ts"])
        elif row["event_type"] == "click" and row["user_id"] in views_seen:
            vidx, vts = views_seen[row["user_id"]]
            gap = (row["ts"] - vts).total_seconds()
            if vidx < idx and 0 <= gap <= 600:
                split_at = idx  # click opens file 1, its view in file 0
                break
    assert split_at is not None, "fixture lost all view->click pairs"
    import pyarrow as pa

    t_sorted = pa.Table.from_pandas(pdf, preserve_index=False)
    for i, (lo, hi) in enumerate([(0, split_at), (split_at, n)]):
        pq.write_table(t_sorted.slice(lo, hi - lo),
                       os.path.join(str(src), f"part-{i}.parquet"))

    sdf = (spark.readStream.schema(streaming.EVENTS_STREAM_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(str(src)))
    joined = streaming.interval_join_streams(
        sdf.filter(F.col("event_type") == "view"),
        sdf.filter(F.col("event_type") == "click"),
        within="10 minutes",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ij_multi")
        .option("checkpointLocation", str(tmp_path / "cp_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["view_id"], r["click_id"], r["view_ts"], r["n_us"]
         if "n_us" in r else r["gap_us"])
        for r in spark.table("ij_multi").collect()
    )

    ev = spark.read.parquet(str(src))
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("vid"),
        F.col("ts").alias("vts"))
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"))
    batch = v.join(c, (F.col("u") == F.col("cu"))
                   & (F.col("cts") >= F.col("vts"))
                   & (F.col("cts") <= F.col("vts")
                      + F.expr("INTERVAL 10 minutes")))
    want = sorted(
        (r["u"], r["vid"], r["cid"], r["vts"],
         int((r["cts"] - r["vts"]).total_seconds() * 1e6))
        for r in batch.collect()
    )
    assert got == want and len(got) > 0
    # cross-batch pairs actually exercised: some pair spans the file
    # boundary (view buffered in batch 0, click arriving in batch 1)
    file0_ids = set(pdf["event_id"].iloc[:split_at])
    file1_ids = set(pdf["event_id"].iloc[split_at:])
    assert any(vid in file0_ids and cid in file1_ids
               for _, vid, cid, _, _ in got)

    # bounded-state shape: the executed streaming plan uses the
    # symmetric hash join (join state evicted by watermark + the
    # event-time range condition), never a batch join of buffered
    # history
    plan = q._jsq.explainInternal(False)
    assert "StreamingSymmetricHashJoin" in plan, plan
