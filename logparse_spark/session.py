"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "logparse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    cores = _cores_of(master)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # no split-size default: a load sizes its own scan splits
        # (stages.sized_splits), and a read gets Spark's bin-packing,
        # which folds a table's small sink files into about one split
        # per core; any split size under the 4 MB file open cost would
        # make every file its own task
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # zstd over snappy: measured identical write wall (the writer is
        # encode-bound, not codec-bound — BENCH/write_tail_ab_result.json:
        # 2.78s vs 2.87s at sf1/32 cores) for 30% fewer output bytes
        # (64 MB vs 91 MB), i.e. 30% less sink storage and downstream
        # scan IO at 100 TB for free
        .config("spark.sql.parquet.compression.codec", "zstd")
        # v1 committer does job-commit renames serially on the driver —
        # a fixed serial cost (Amdahl) that grows with sink fan-out file
        # count; v2 renames at task commit, in parallel on executors
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _cores_of(master: str) -> int:
    if master.startswith("local["):
        inside = master[len("local[") : -1]
        if inside == "*":
            return os.cpu_count() or 8
        try:
            return int(inside)
        except ValueError:
            return 8
    return 8
