"""DataFrame stage functions: the logical plan builders.

Each stage is a pure ``DataFrame -> DataFrame`` function so the same
code serves batch runs, the resume path, and (later) a foreachBatch
streaming wrapper (SURVEY.md §2.3 streaming row).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rules import CompiledRules
from .udf import with_match_sql

INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SPLIT_KEY = "spark.sql.files.maxPartitionBytes"


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Scan stage (S1). Column pruning to the 6 input columns happens
    here so Catalyst pushes the projection into the parquet/Iceberg
    reader (SURVEY.md §4 "column pruning")."""
    df = spark.read.parquet(path)
    return df.select(*[c for c in INPUT_COLUMNS if c in df.columns])


def tune_scan_splits(spark: SparkSession, path: str, waves: int = 8,
                     min_bytes: int = 1 << 20, max_bytes: int = 128 << 20) -> int:
    """Size ``spark.sql.files.maxPartitionBytes`` to the input.

    Strong-scaling trap this avoids: a fixed split size gives a fixed
    task count, so at 4N cores the scan+parse stage can degenerate to
    ~1.5 waves — half the cores idle in the last wave. Targeting
    ``waves`` waves per core keeps the task tail short at every
    parallelism. On a real cluster Iceberg's split planning plays this
    role; file listing here is driver-side and O(files).

    Only loads and upserts size their splits, through
    :func:`sized_splits`. Reads of a committed table keep Spark's own
    sizing, which bin-packs the table's small sink files into about one
    split per core: a read's cost is per task, not per byte."""
    import os

    total = 0
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files if f.endswith(".parquet"))
    elif os.path.exists(path):
        total = os.path.getsize(path)
    cores = spark.sparkContext.defaultParallelism
    target = max(min_bytes, min(max_bytes, total // max(1, cores * waves)))
    spark.conf.set(SPLIT_KEY, str(target))
    return target


@contextmanager
def sized_splits(spark: SparkSession, path: str | None):
    """Scan ``path`` on splits sized by :func:`tune_scan_splits` inside
    the block, then give the caller's session back its own
    ``maxPartitionBytes``, or the key unset if it had none, also when
    the block raises. ``path=None`` sizes nothing and only restores."""
    caller = spark.conf.get(SPLIT_KEY, None)
    try:
        if path is not None:
            tune_scan_splits(spark, path)
        yield
    finally:
        if caller is None:
            spark.conf.unset(SPLIT_KEY)
        else:
            spark.conf.set(SPLIT_KEY, caller)


def input_row_count(path: str) -> int:
    """Exact input row count from parquet FOOTERS — driver-side
    metadata walk, O(files), no Spark job (the same pattern as the
    lineage protocol; an Iceberg deployment reads the snapshot's
    ``total-records`` summary field instead, one metadata read)."""
    import os

    import pyarrow.parquet as pq

    rows = 0
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            rows += sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files if f.endswith(".parquet")
            )
    elif os.path.exists(path):
        rows = pq.ParquetFile(path).metadata.num_rows
    return rows


def auto_bucket_count(spark: SparkSession, path: str,
                      target_rows: int = 250_000,
                      lo: int | None = None, hi: int = 1 << 20) -> int:
    """Size the output bucket count from the INPUT, not a constant.

    A fixed bucket count is wrong at both ends of the scale axis: 64
    buckets over 100 TB means ~1.5 TB per writer-task sort (spills,
    then OOM), while 4096 buckets over a 600k-row test run means
    thousands of near-empty files. The scale-stable invariant is
    ROWS PER BUCKET — the per-task sort must fit the executor's
    execution-memory share (see :func:`bucket_and_salt`'s sizing
    note; ~250k transcript turns sorts in-memory on a 1.75 g/core
    heap with headroom, the bench-measured sf10 setting).

    Row count comes from the input's parquet FOOTERS (driver-side
    metadata walk, O(files) — the same pattern as the lineage
    protocol; on an Iceberg deployment the snapshot's
    ``total-records`` summary field gives the identical number in one
    metadata read). The result is rounded up to a power of two —
    doubling-stable as data grows — and clamped to at least the
    cluster parallelism (fewer buckets than cores would idle cores
    through the whole write stage) and at most ``hi``.
    """
    import math

    rows = input_row_count(path)
    lo = lo or spark.sparkContext.defaultParallelism
    need = max(1, math.ceil(rows / target_rows))
    b = 1 << (need - 1).bit_length()
    return max(lo, min(hi, b))


def hot_conv_threshold(n_rows: int, buckets: int, frac: float = 0.25,
                       floor: int = 1000) -> int:
    """Bucket-relative hot-conversation threshold for salting.

    Salting exists to split a conversation that would dominate ONE
    write task; the cost side is file count — every salted bucket
    writes ``salt_buckets`` files per sink instead of one, because
    each salt value lands the bucket's rows in a different task.
    A threshold expressed as a fixed fraction of the TABLE (the
    obvious ``n // 1000``) marks conversations hot that are a
    rounding error within their bucket: at 600k rows / 16 buckets it
    salted ~300 conversations of ~1k turns each — 1.6% of a 37k-row
    bucket, zero straggler benefit — and multiplied the e2e write's
    file count ~8x (measured: 816 -> ~110 files, write 2x faster).

    The scale-stable invariant is rows relative to the conversation's
    BUCKET: only a conversation holding >= ``frac`` of the average
    bucket's rows can stretch that bucket's task noticeably, so only
    those pay the salt fan-out. At 10^12 turns / 2^20 buckets this is
    ~240k turns — a genuine monster conversation — while the per-task
    sort stays bounded for everything below it.
    """
    return max(floor, int(n_rows / max(1, buckets) * frac))


def read_transcripts_union(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Multi-source union (S2): schema-aligned unionByName."""
    dfs = [read_transcripts(spark, p) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def detect_hot_convs(df: DataFrame, threshold: int) -> list[str]:
    """Cheap skew probe (SURVEY.md §4 "skew handling"): one column
    scan + partial-aggregated count; conversations with more than
    ``threshold`` rows are hot."""
    hot = (
        df.select("conv_id").groupBy("conv_id").count()
        .filter(F.col("count") > threshold)
        .select("conv_id")
        .collect()
    )
    return sorted(r[0] for r in hot)


def bucket_and_salt(
    df: DataFrame,
    buckets: int = 64,
    salt_buckets: int = 8,
    hot_convs: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Explicit partitioning (X1): bucket = hash(conv_id) mod B; hot
    conversations additionally salt by turn_idx so one giant
    conversation spreads over ``salt_buckets`` tasks instead of
    stalling a single one. The ONE full shuffle of the job.

    Partition-granularity note: the shuffle can never be finer than the
    distinct (bucket, salt) keys, so ``num_partitions`` > that count
    buys nothing — pick ``buckets`` itself so each downstream write
    task sorts ~rows/buckets rows in memory. Sizing rule: the per-task
    sort must fit the execution-memory share (heap*0.6/concurrent
    tasks) or it spills — the classic silent 2-3x write slowdown that
    appears only at high parallelism (more concurrent tasks = smaller
    share). 60M-row sf10 at 64 buckets = ~1M-row sorts -> spill at
    32 tasks on a 16g heap; 256 buckets = ~235k rows -> in-memory."""
    if num_partitions is None:
        num_partitions = buckets
    out = df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int"))
    if hot_convs:
        out = out.withColumn(
            "salt",
            F.when(
                F.col("conv_id").isin(hot_convs),
                F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets)).cast("int"),
            ).otherwise(F.lit(0)),
        )
    else:
        out = out.withColumn("salt", F.lit(0))
    return out.repartition(num_partitions, F.col("bucket"), F.col("salt"))


def parse_match(df: DataFrame, compiled: CompiledRules, engine: str = "udf") -> DataFrame:
    """Parse + first-match dispatch (P1-P3, A1-A4 classification).

    Engines: "udf" (default) = scalar arrow_udf + RE2-on-Arrow kernel
    (no pandas conversion at the boundary, non-input columns bypass
    Python); "sql" = pure-JVM chained CASE/rlike."""
    if engine == "udf":
        from .packaging import ensure_shipped
        from .udf import with_match_arrow

        ensure_shipped(df.sparkSession)
        return with_match_arrow(df, compiled)
    if engine == "sql":
        return with_match_sql(df, compiled)
    raise ValueError(f"unknown engine {engine!r}")


def parse_match_slim(df: DataFrame, compiled: CompiledRules,
                     engine: str = "udf") -> DataFrame:
    """Parse + dispatch adding ONLY (rule_id, rendered) — the variant
    the pipeline shuffles: constant-per-rule strings (rule_name,
    action, sink_id) are re-derived post-exchange from rule_id via
    ``attach_rule_metadata``, so they never cross the wire."""
    if engine == "udf":
        from .packaging import ensure_shipped
        from .udf import attach_match, make_parse_and_match_arrow_udf, sum_key_col

        ensure_shipped(df.sparkSession)
        udf = make_parse_and_match_arrow_udf(compiled)
        out = attach_match(df, udf(F.col("text"), F.col("tool")))
        sk = sum_key_col(compiled)
        if sk is not None:
            # sum-rule grouping keys must be derived BEFORE the
            # pipeline drops text for the exchange; the shuffle then
            # carries one extra nullable string — only for rule sets
            # that actually use sum
            out = out.withColumn("sum_key", sk)
        return out
    if engine == "sql":
        # the CASE emits metadata as inline constants; dropping them
        # here and re-attaching post-shuffle keeps the exchange slim
        out = with_match_sql(df, compiled)
        sum_ids = [r.rule_id for r in compiled.rules
                   if r.spec.action == "sum"]
        if sum_ids:
            out = out.withColumn(
                "sum_key",
                F.when(F.col("rule_id").isin(sum_ids), F.col("count_key")))
        return out.drop("rule_name", "action", "sink_id", "count_key")
    raise ValueError(f"unknown engine {engine!r}")


def attach_rule_metadata(df: DataFrame, compiled: CompiledRules) -> DataFrame:
    """Post-shuffle half of the parse stage: rule_name/action/sink_id
    from rule_id as literal CASE expressions, then count_key (see udf
    module)."""
    from .udf import attach_rule_metadata as _attach

    return _attach(df, compiled)


def enrich(df: DataFrame, role_dict: DataFrame, tool_dict: DataFrame) -> DataFrame:
    """Broadcast lookup joins (J1): dictionaries are tiny -> broadcast
    hash join, zero shuffle. Left joins keep rows with unknown
    role/tool (nulls), matching oracle LEFT JOIN semantics."""
    return (
        df.join(F.broadcast(role_dict), "role", "left")
        .join(F.broadcast(tool_dict), "tool", "left")
    )


def enrich_scd(df: DataFrame, hist: DataFrame,
               key: str = "role", ts_col: str = "ts") -> DataFrame:
    """Time-versioned (SCD2) dimension enrichment: each row joins the
    dimension version IN EFFECT AT ITS EVENT TIME —
    ``key`` equality plus ``valid_from <= ts < valid_to``.

    Scale shape: the history is still a dimension (versions x keys,
    tiny), so this stays a BROADCAST HASH join on the equality key
    with the interval predicate as a post-probe filter — zero
    shuffle, never a BroadcastNestedLoopJoin (the equi-key anchors
    the hash join; asserted by tests). Left semantics keep unknown
    keys (null attributes), like :func:`enrich`. With half-open
    tiling intervals every matched key hits exactly one version."""
    cond = (
        (df[key] == hist[key])
        & (df[ts_col] >= hist["valid_from"])
        & (df[ts_col] < hist["valid_to"])
    )
    return (
        df.join(F.broadcast(hist), cond, "left")
        .drop(hist[key])
        .drop("valid_from", "valid_to")
    )


def routed(df: DataFrame) -> DataFrame:
    """Routing fan-out input (R1): drop ignore-action rows; the rest
    carry (sink_id, rendered). The filter is a plain Catalyst filter."""
    return df.filter(F.col("action") != "ignore")


def sink_counts(df: DataFrame) -> DataFrame:
    """Per-sink aggregate counts (G1) — partial+final hash aggregate."""
    return df.groupBy("sink_id").agg(F.count("*").alias("n"))


def keyed_counts(df: DataFrame) -> DataFrame:
    """COUNT-action keyed tallies (A2)."""
    return (
        df.filter(F.col("action") == "count")
        .groupBy("rule_name", "count_key")
        .agg(F.count("*").alias("n"))
    )


def keyed_sums(df: DataFrame) -> DataFrame:
    """SUM-action keyed totals: the rendered payload of a sum rule IS
    the extracted numeric value, so the aggregate is a plain
    partial+final hash agg over (rule, key) — no Python, one shuffle.
    Totals cast back to BIGINT for integer-valued fields (exact in
    double up to 2^53; decimal fields should aggregate the double)."""
    return (
        df.filter(F.col("action") == "sum")
        .groupBy("rule_name", "count_key")
        .agg(
            F.sum(F.col("rendered").cast("double")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )
