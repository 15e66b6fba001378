"""Structured Streaming wrapper over the identical batch stage functions.

The reference is single-pass batch (SURVEY.md §2.3: streaming "no");
this module is the graft's forward path: the same ``stages.*``
DataFrame functions run unchanged under ``readStream`` because they
are pure DataFrame->DataFrame transforms.

Surfaces:

- ``run_stream``: incremental ETL via ``foreachBatch`` — each
  micro-batch goes through parse -> route -> fan-out write into its
  own ``batch_id=N`` directory with overwrite (see make_batch_writer:
  foreachBatch alone is only at-least-once; the idempotent per-batch
  overwrite plus the stream checkpoint makes the sink exactly-once —
  the streaming analogue of the batch manifest/resume protocol in
  sinks.py).
- ``windowed_sink_counts``: a stateful watermarked tumbling-window
  aggregation (late data handled by the watermark), the streaming
  analogue of the batch time_buckets query.
- ``upsert_stream``: CDC-style ingestion — foreachBatch around the
  merge-on-read conversation MERGE (sinks.merge_classified), replay-
  convergent where a plain append would duplicate.
- ``dedup_stream`` / ``session_counts`` / ``conversation_progress``:
  watermark-bounded ingest dedup, session windows, and the
  applyInPandasWithState custom stateful operator.

``trigger(availableNow=True)`` drains everything present then stops —
that is how tests (and backfills) run the stream to completion.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import stages
from .rules import CompiledRules, load_rules

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ]
)


# the driver testdata events table shape (streams need explicit schemas)
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def stream_transcripts(spark: SparkSession, source_dir: str,
                       max_files_per_trigger: int | None = None,
                       glob_filter: str | None = None) -> DataFrame:
    """File-source stream of transcript parquet (schema fixed by the
    input_hint; streams cannot infer schemas). ``glob_filter`` narrows
    a mixed directory (e.g. a fixture dir that also holds dictionary
    parquet) to just the transcript files."""
    if not os.path.isdir(source_dir):
        raise ValueError(
            f"stream source must be a DIRECTORY of transcript parquet files "
            f"(file streams watch directories for arrivals), got: {source_dir!r}"
        )
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    return reader.parquet(source_dir)


def run_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    rules_path: str = "/root/repo/rules/default.rules",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    engine: str = "udf",
):
    """Incremental parse->route->fan-out: identical stage functions per
    micro-batch via foreachBatch; progress tracked by the stream
    checkpoint (file-source exactly-once)."""
    compiled = load_rules(rules_path)
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    sdf = stream_transcripts(spark, source_dir)

    writer = (
        sdf.writeStream.foreachBatch(make_batch_writer(compiled, out_dir, engine))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


SINK_LAYOUT = "batch_id/sink_id/v1"


def _check_sink_layout(out_dir: str) -> None:
    """Refuse to append a new layout into an old-layout stream sink."""
    root = os.path.join(out_dir, "routed")
    marker = os.path.join(root, "_LAYOUT")
    if os.path.isfile(marker):
        with open(marker, encoding="utf-8") as f:
            found = f.read().strip()
        if found != SINK_LAYOUT:
            raise RuntimeError(
                f"stream sink {root} was written with layout {found!r}; "
                f"this writer produces {SINK_LAYOUT!r} — clear the sink "
                f"(and its checkpoint) before resuming"
            )
        return
    if os.path.isdir(root) and any(
        e for e in os.listdir(root) if not e.startswith(("_", "."))
    ):
        raise RuntimeError(
            f"stream sink {root} has data but no _LAYOUT marker (written "
            f"by a pre-versioning build) — clear the sink (and its "
            f"checkpoint) before resuming with this writer"
        )
    os.makedirs(root, exist_ok=True)
    with open(marker, "w", encoding="utf-8") as f:
        f.write(SINK_LAYOUT + "\n")


def make_batch_writer(compiled: CompiledRules, out_dir: str, engine: str = "udf"):
    """Build the foreachBatch function: parse -> route -> fan-out write.

    IDEMPOTENT per micro-batch: foreachBatch is only at-least-once (a
    batch whose write succeeded but whose checkpoint commit did not is
    re-run on recovery with the SAME batch_id), so each batch
    OVERWRITES its own `batch_id=N` directory instead of blind-append.
    A retry replaces identical data in place and the sink stays
    exactly-once end-to-end — the streaming analogue of the batch
    manifest commit protocol in sinks.py. Readers just scan
    `<out>/routed` (batch_id and sink_id become partition columns).

    LAYOUT VERSIONING: the sink root is ``routed`` with per-batch
    subdirectories. The layout changed once pre-release (flat
    ``sink_id=...`` -> ``batch_id=N/sink_id=...``); a stream resumed
    from an old checkpoint over an old-layout sink would leave mixed
    partition depths, which Spark's partition discovery rejects. A
    marker file pins the layout: mismatch (or an unmarked non-empty
    sink) fails fast at writer build time with a clear message instead
    of a confusing discovery error mid-stream."""
    _check_sink_layout(out_dir)

    def process_batch(df: DataFrame, batch_id: int) -> None:
        cdf = stages.parse_match(df, compiled, engine=engine)
        routed = stages.routed(cdf).select(
            "sink_id", "conv_id", "turn_idx", "role", "ts",
            "rule_id", "rule_name", "action", "count_key", "rendered",
        )
        (
            routed.sortWithinPartitions("sink_id", "conv_id", "turn_idx")
            .write.mode("overwrite").partitionBy("sink_id")
            .parquet(os.path.join(out_dir, "routed", f"batch_id={batch_id}"))
        )

    return process_batch


def upsert_stream(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    rules_path: str = "/root/repo/rules/default.rules",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    dict_dir: str | None = None,
    engine: str = "udf",
    glob_filter: str | None = None,
    view_dir: str | None = None,
):
    """CDC-style upsert ingestion: each micro-batch of re-delivered or
    new conversations is classified with the same compiled rules and
    MERGED into an existing committed SinkSet table at conversation
    granularity (``SinkSet.merge_classified``) — the standard lakehouse
    ``foreachBatch`` + MERGE idiom, pointed at the merge-on-read merge
    instead of an append: each trigger writes its batch as a delta run
    per touched bucket, not a rewrite of the buckets.

    ``view_dir`` (optional) keeps a ``SinkDailyCounts`` materialized
    view current per micro-batch: after each merge,
    ``SinkDailyCounts.refresh`` folds the merge's signed rows from the
    table's change feed (``SinkSet.changes``) into the view, in
    O(batch), not O(table). A replayed batch deletes and re-inserts
    the same rows, a zero change; a watermark gap (a crash between
    merge and refresh, an interleaved writer) is just more snapshots
    for the next refresh to read.

    Delivery semantics: foreachBatch is at-least-once (a batch whose
    merge committed but whose checkpoint did not is REPLAYED). The
    merge makes the replay convergent rather than duplicating: a
    conversation is wholesale-replaced, so re-merging the identical
    batch deletes what the first attempt inserted and inserts it again
    — same final table. Concurrent writers are serialized by the
    commit lock, and a racing rewrite surfaces as CommitConflict
    (sinks.py) instead of silent lost rows.

    Scale shape per micro-batch: the write is the batch plus the
    touched buckets' previous delta rows; the touched buckets' live
    ``conv_id`` column is scanned once to count the replaced rows
    (BENCH/ROWOPS.md). A bucket whose delta would outgrow its base,
    or whose superseded-id list its bound, is folded (rewritten
    whole) by the merge itself; the run-dir
    accretion a long-lived upsert stream causes is exactly what
    ``SinkSet.compact``/``vacuum`` maintain away. On the Iceberg
    branch this function is a foreachBatch around the native
    ``MERGE INTO``."""
    from .pipeline import _load_dicts, classify
    from .sinks import SinkSet, load_manifest

    compiled = load_rules(rules_path)
    nb = load_manifest(table_dir).get("n_buckets")
    if nb is None:
        raise ValueError(
            f"{table_dir} has no recorded n_buckets — upsert_stream merges "
            "into an EXISTING table; run the initial pipeline load first"
        )
    role_dict = tool_dict = None
    if dict_dir:
        role_dict, tool_dict = _load_dicts(spark, dict_dir)
    checkpoint_dir = checkpoint_dir or os.path.join(table_dir, "_upsert_checkpoint")

    view = None
    if view_dir is not None:
        from .materialized import SinkDailyCounts

        view = SinkDailyCounts(table_dir, view_dir)

    def process_batch(df: DataFrame, batch_id: int) -> None:
        spark_b = df.sparkSession
        SinkSet(out_dir=table_dir).merge_classified(spark_b, classify(
            df, compiled, role_dict, tool_dict,
            buckets=int(nb), engine=engine,
        ))
        if view is not None:
            view.refresh(spark_b)

    sdf = stream_transcripts(spark, source_dir, glob_filter=glob_filter)
    writer = (
        sdf.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def dedup_stream(
    df_stream: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once event dedup for at-least-once upstreams.

    Log/telemetry ingestion is at-least-once almost everywhere
    (producer retries, agent re-sends, replayed partitions), so a
    dedup-on-ingest operator is part of the pipeline's contract.
    ``dropDuplicatesWithinWatermark`` keeps one row per ``keys`` among
    events whose timestamps fall within the watermark of the first
    sighting, and — unlike plain ``dropDuplicates`` on a stream —
    EVICTS state once the watermark passes, so state size is bounded
    by (arrival rate x watermark), not by total history. At 10^12
    turns unbounded dedup state is a guaranteed OOM; this is the only
    shape that survives.

    Retries of the SAME event carry the same event time, so any
    duplicate lands inside the window by construction; a duplicate
    arriving later than the watermark is dropped as late data rather
    than emitted twice.
    """
    tz = df_stream.sparkSession.conf.get("spark.sql.session.timeZone")
    return (
        df_stream.withColumn(
            "ts_evt", F.to_utc_timestamp(F.col(ts_col).cast("timestamp"), tz)
        )
        .withWatermark("ts_evt", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .drop("ts_evt")
    )


def interval_join_streams(
    views: DataFrame,
    clicks: DataFrame,
    within: str = "10 minutes",
    watermark: str = "2 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-STREAM inner interval join — the two-stream surface of
    Structured Streaming: every click paired with the same user's
    views at most ``within`` earlier (the attribution join a clickstream
    pipeline runs continuously).

    Scale shape: both sides carry event-time watermarks AND the join
    condition carries an event-time RANGE (click_ts in [view_ts,
    view_ts + within]) — exactly the combination that lets Spark
    BOUND the join state: a buffered view is evictable once the
    click-side watermark passes view_ts + within, so state is
    (arrival rate x (watermark + within)), never total history. An
    unbounded stream-stream join buffers both streams forever — the
    guaranteed-OOM shape at 10^12 events; the range condition is not
    an optimization, it is the contract.

    Inner joins emit each match as soon as both rows have arrived
    (append mode — the only mode stream-stream joins support; no
    watermark holdback, which only outer joins need), so an
    availableNow drain equals the batch interval join exactly as long
    as no input arrives later than the watermark — the default here
    is generous because the registry entry replays a bounded fixture;
    production tightens it to its real lateness bound to shrink
    state. Works directly on TIMESTAMP_NTZ event time (wall-clock
    arithmetic, tz-stable like the rest of the pipeline).

    Returns (user_id, view_id, click_id, view_ts, gap_us) — gap_us
    the exact microsecond lag, one row per qualifying (view, click)
    pair. Event time is UTC-aligned for the watermark/join (Spark
    requires TIMESTAMP, not NTZ, on watermark columns — same dance as
    session_counts, tz-stable on fixtures without a DST transition
    inside the join window) and converts back to the naive wall clock
    on output."""
    tz = views.sparkSession.conf.get("spark.sql.session.timeZone")

    def utc(col):
        return F.to_utc_timestamp(F.col(col).cast("timestamp"), tz)

    v = views.select(
        F.col(user_col).alias("v_user"),
        F.col("event_id").alias("view_id"),
        utc(ts_col).alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col(user_col).alias("c_user"),
        F.col("event_id").alias("click_id"),
        utc(ts_col).alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}"))
    )
    return v.join(c, cond, "inner").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.from_utc_timestamp("view_ts", tz)
        .cast("timestamp_ntz").alias("view_ts"),
        F.expr("timestampdiff(MICROSECOND, view_ts, click_ts)")
        .cast("long").alias("gap_us"),
    )


def conversation_progress(df_stream: DataFrame, compiled: CompiledRules) -> DataFrame:
    """Custom stateful operator: per-conversation running progress.

    ``applyInPandasWithState`` keeps (turns_seen, max_turn, routed)
    per conv_id across micro-batches and emits the updated row each
    time a conversation receives turns — the pattern for any
    accumulator LogParse would keep in a Perl %hash, made incremental
    and fault-tolerant by the state store. Arrow-batched; the update
    function is a self-contained closure (no package imports on
    workers)."""
    import pandas as pd  # local: the closure must not capture this module

    cdf = stages.parse_match(df_stream, compiled, engine="sql").select(
        "conv_id", "turn_idx", "action"
    )

    def update(key, pdfs, state):
        turns, max_turn, routed = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            turns += len(pdf)
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
            routed += int((pdf["action"] != "ignore").sum())
        state.update((turns, max_turn, routed))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "turns_seen": [turns],
                "max_turn": [max_turn],
                "routed": [routed],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return cdf.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType="conv_id string, turns_seen long, max_turn int, routed long",
        stateStructType="turns_seen long, max_turn int, routed long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_counts(
    df_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful SESSION windows: per-key session event counts.

    ``session_window(ts, gap)`` merges an event into the open session
    iff its ts <= previous session end (end-INCLUSIVE: a gap of
    exactly `gap` still merges; a new session needs gap > `gap` —
    pinned by test_session_window_exact_boundary). Sessions merge
    ACROSS micro-batches through the state store — the property
    test_session_windows_multibatch locks in. Event time is
    UTC-aligned like windowed_sink_counts (tz-stable); the emitted
    sess_start converts back to the naive wall clock (= min event ts
    of the session)."""
    tz = df_stream.sparkSession.conf.get("spark.sql.session.timeZone")
    return (
        df_stream.withColumn(
            "ts_evt", F.to_utc_timestamp(F.col(ts_col).cast("timestamp"), tz)
        )
        .withWatermark("ts_evt", watermark)
        .groupBy(F.session_window("ts_evt", gap).alias("win"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.from_utc_timestamp(F.col("win.start"), tz)
            .cast("timestamp_ntz")
            .alias("sess_start"),
            user_col,
            "n_events",
        )
    )


def windowed_sink_counts(
    df_stream: DataFrame,
    compiled: CompiledRules,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Stateful tumbling-window per-sink counts with late-data handling.

    Uses the pure-SQL dispatch engine so the whole streaming plan stays
    JVM-side (stateful ops + Python UDFs complicate state store reuse).

    Timezone stability: watermarks require TIMESTAMP (LTZ), but the
    input `ts` is wall-clock NTZ and `window()` buckets on UTC epoch —
    under a half-hour-offset session tz the bucket boundaries would
    land at :30 wall time. The event time is therefore UTC-ALIGNED
    (`to_utc_timestamp(cast, session_tz)` makes instant == wall@UTC),
    so buckets fall on wall-clock hour boundaries in EVERY session tz,
    and `win_start` converts back to the same NTZ wall clock a batch
    `date_trunc('hour', ts)` yields."""
    spark = df_stream.sparkSession
    tz = spark.conf.get("spark.sql.session.timeZone")
    cdf = stages.parse_match(df_stream, compiled, engine="sql")
    return (
        stages.routed(cdf)
        .withColumn("ts_evt", F.to_utc_timestamp(F.col("ts").cast("timestamp"), tz))
        .withWatermark("ts_evt", watermark)
        .groupBy(F.window("ts_evt", window, slide or window).alias("win"), "sink_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.from_utc_timestamp(F.col("win.start"), tz)
            .cast("timestamp_ntz")
            .alias("win_start"),
            "sink_id",
            "n",
        )
    )


def windowed_keyed_sums(
    df_stream: DataFrame,
    compiled: CompiledRules,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked per-window SUM-action totals — the streaming twin of
    ``stages.keyed_sums`` (a sum rule's routed payload IS its numeric
    value, so the stateful agg is a plain windowed hash aggregate:
    bytes-per-status per hour, live). Same SQL engine + UTC-aligned
    event time + NTZ round trip as :func:`windowed_sink_counts`."""
    spark = df_stream.sparkSession
    tz = spark.conf.get("spark.sql.session.timeZone")
    cdf = stages.parse_match(df_stream, compiled, engine="sql")
    return (
        cdf.filter(F.col("action") == "sum")
        .withColumn("ts_evt", F.to_utc_timestamp(F.col("ts").cast("timestamp"), tz))
        .withWatermark("ts_evt", watermark)
        .groupBy(F.window("ts_evt", window, slide or window).alias("win"),
                 "rule_name", "count_key")
        .agg(F.sum(F.col("rendered").cast("double")).alias("total"),
             F.count(F.lit(1)).alias("n"))
        .select(
            F.from_utc_timestamp(F.col("win.start"), tz)
            .cast("timestamp_ntz")
            .alias("win_start"),
            "rule_name", "count_key", "total", "n",
        )
    )
