import itertools
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    from logparse_spark.session import get_spark

    s = get_spark(app_name="logparse_tests", master="local[4]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``spark_jobs(fn)`` calls ``fn()`` under a job group of its own
    and returns the ids of the Spark jobs it ran, once their events
    have reached the status tracker."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn) -> list[int]:
        group = f"spark-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run


def python_rdd_jobs(spark, job_ids) -> list[int]:
    """The jobs among ``job_ids`` that run a Python RDD, such as the
    one ``spark.createDataFrame`` over a Python list runs. Arrow UDF
    stages are SQL operators, not Python RDDs, so they do not count."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    return [j for j in job_ids
            if any("PythonRDD" in dot(store.operationGraphForStage(s))
                   for s in sc.statusTracker().getJobInfo(j).stageIds)]


def file_scans(df) -> list:
    """The FileSourceScan nodes of ``df``'s physical plan, descending
    AQE query-stage leaves (the final plan once ``df`` has run)."""
    def walk(node, out):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name:
            out.append(node)
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), out)
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), out)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)
        return out

    return walk(df._jdf.queryExecution().executedPlan(), [])


def planned_files(df) -> list[str]:
    """The data files ``df``'s file scans list once partition filters
    have pruned them: the files its tasks read."""
    files = []
    for scan in file_scans(df):
        dirs = scan.relation().location().listFiles(
            scan.partitionFilters(), scan.dataFilters())
        for i in range(dirs.size()):
            fs = dirs.apply(i).files()
            files.extend(fs.apply(j).getPath().toString()
                         for j in range(fs.size()))
    return files


@pytest.fixture(scope="session")
def fixture_sf_small(tmp_path_factory):
    """Small deterministic transcripts fixture dir (t1 smoke scale)."""
    from logparse_spark.fixtures import ensure_fixture

    return ensure_fixture("0.001")


def scan_num_files(df, path_substr: str) -> int:
    """numFiles metric of the executed FileSourceScan whose path
    contains ``path_substr`` — the runtime truth of partition pruning
    (DataFrame.inputFiles() lists the UNPRUNED table, so it cannot
    prove pruning). Descends AQE query-stage leaves. Shared by the
    plan-shape tests (ANN index probes, point lookups)."""
    df.collect()  # materialize metrics
    scans = file_scans(df)
    # identify by the relation's actual root path: toString() truncates
    # location strings at spark.sql.maxMetadataStringLength (100), which
    # silently cuts long pytest tmp paths
    hits = [
        s for s in scans
        if path_substr in s.relation().location().rootPaths().apply(0).toString()
    ]
    assert hits, f"no FileSourceScan over {path_substr!r} in executed plan"
    return sum(int(s.metrics().apply("numFiles").value()) for s in hits)
