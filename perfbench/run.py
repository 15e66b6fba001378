"""Benchmark of logparse_spark's production path, driven from outside.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 24 --trace 0

One process, one Spark driver at ``local[nproc/2]``, one closed-loop client.
The program sees only the parquet inputs generated here from ``--seed``.
Every operation's output is checked against counts kept from the inputs.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A context line (versions, CPU probe, set-up phases) is printed before it.
perfbench/README.md describes the workloads and metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime, timedelta  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

RULES = os.path.join("rules", "bench.rules")
BATCH_TURNS, BATCH_CONVS = 3_000, 150
REDELIVERED_SHARE = 0.5
EXPORT_IDS = 50
WINDOW = timedelta(hours=6)
DRIVER_MEMORY = "2g"
# share of pipeline.run wall time its traced child spans may leave
# uncovered on bulk_ingest (the rest is pipeline.run_self_s)
RUN_COVER_TOLERANCE = 0.15

# Both workloads run the same operations; they differ in the inputs,
# which decide the layer that does the work (README.md). A run times
# `passes` passes of the heavy operations. After each heavy operation
# comes a slot of reads, so that the reads are sampled over the whole
# measured phase rather than one stretch of it; the slots hold at least
# MIN_READS reads together. Reads then go on until --seconds is up. The
# reads cycle through READS, which weights them by cost: three lookups,
# two time ranges and one export. An upsert is followed by read-backs of
# two of the conversations it re-delivered.
HEAVY = ("ingest", "report", "upsert")
READS = ("lookup", "timerange", "lookup", "export", "lookup", "timerange")
MIN_READS = 18
WORKLOADS = {
    # fresh 600k-turn loads, where per-turn work outweighs a load's fixed
    # cost. The set-up table is a small one that only warms the process
    # up; the timed load replaces it, and the upsert and the reads hit
    # the table that load committed. No warm-up upsert: the timed one is
    # the process's first, which keeps the run inside its time budget.
    "bulk_ingest": {"ingest_turns": 600_000, "build_turns": 5_000,
                    "load_is_target": True, "warm_up_upsert": False,
                    "passes": 1},
    # 20k-turn loads beside a long-lived 100k-turn table whose history
    # and run dirs accrete with every copy-on-write merge
    "upsert_trickle": {"ingest_turns": 20_000, "build_turns": 100_000,
                       "load_is_target": False,
                       "warm_up_upsert": True, "passes": 2},
}

E2E_UNITS = {
    "setup_s": "s", "ingest_turns_per_s": "turns/s", "report_s": "s",
    "sink_bytes_per_turn": "B/turn", "lookup_p50_s": "s",
    "export_p50_s": "s", "timerange_p50_s": "s", "upsert_p50_s": "s",
}
LAYER_UNITS = {
    "rules.load_s": "s", "stages.bucket_sizing_s": "s",
    "stages.hot_probe_s": "s", "stages.exchange_bytes": "B",
    "stages.exchange_records": "count", "kernel.rows_per_s": "rows/s",
    "udf.python_worker_s": "s", "udf.python_init_s": "s",
    "udf.arrow_bytes_sent": "B",
    "udf.arrow_bytes_returned": "B", "sinks.write_classified_s": "s",
    "sinks.sort_spill_bytes": "B", "sinks.output_bytes": "B",
    "sinks.output_files": "count", "sinks.commit_s": "s",
    "sinks.history_len": "count", "sinks.manifest_bytes": "B",
    "sinks.read_plan_s": "s", "sinks.read_exec_s": "s",
    "sinks.jobs_per_read": "count", "sinks.files_per_read": "count",
    "sinks.rows_returned_per_row_scanned": "ratio", "sinks.merge_s": "s",
    "sinks.merge_rows_rewritten_per_upserted": "ratio",
    "sinks.run_dirs": "count", "streaming.trigger_overhead_s": "s",
    "pipeline.run_self_s": "s", "pipeline.run_covered_share": "ratio",
    "pipeline.report_jobs_s": "s", "spark.gc_s": "s",
    "spark.executor_cpu_s": "s", "spark.tasks": "count",
    "trace.traced_ingest_s": "s", "trace.untraced_ingest_s": "s",
}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def conv_ts(tbl) -> dict:
    """conv_id -> int64 array of its turns' ts (microseconds)."""
    conv = tbl.column("conv_id").to_numpy(zero_copy_only=False)
    ts = tbl.column("ts").cast(pa.int64()).to_numpy()
    order = np.argsort(conv, kind="stable")
    conv, ts = conv[order], ts[order]
    uniq, starts = np.unique(conv, return_index=True)
    return dict(zip(uniq.tolist(), np.split(ts, starts[1:])))


class Table:
    """A committed table under test and the contents it must hold."""

    def __init__(self, path: str, convs: dict):
        self.path = path
        self.convs = dict(convs)
        self.stream_dir = path + ".stream"
        self.checkpoint = path + ".checkpoint"
        self._ts = None

    @property
    def rows(self) -> int:
        return sum(len(v) for v in self.convs.values())

    def in_window(self, lo_us: int, hi_us: int) -> int:
        if self._ts is None:
            self._ts = np.sort(np.concatenate(list(self.convs.values())))
        return int(np.searchsorted(self._ts, hi_us, "left")
                   - np.searchsorted(self._ts, lo_us, "left"))

    def replace(self, new: dict) -> None:
        self.convs.update(new)
        self._ts = None

    def drop(self) -> None:
        for p in (self.path, self.stream_dir, self.checkpoint):
            shutil.rmtree(p, ignore_errors=True)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.p = WORKLOADS[args.workload]
        self.scale = args.scale
        self.rng = np.random.default_rng(args.seed)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {k: [] for k in E2E_UNITS}
        self.ops: list[dict] = []  # one record per timed operation
        self.tracer = None
        self.status = None
        self.n_dirs = 0
        self.n_batches = 0
        self.ref_sinks = None
        self.ref_reports: dict[str, str] = {}
        self.end_state: dict[str, float] = {}
        self.context: dict = {}
        self.probes: list[float] = []
        self.warming = False
        self.n_reads = 0
        self.overhead_loads_done = False

    # -- set-up ----------------------------------------------------------

    def start_spark(self):
        from logparse_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            })
        self.sc = self.spark.sparkContext

    def turns(self, n: int) -> int:
        return max(5_000, int(n * self.scale))

    def gen(self, n_turns: int, n_convs: int):
        from logparse_spark.fixtures.gen_transcripts import gen_transcripts

        return gen_transcripts(n_turns, n_convs,
                               seed=int(self.rng.integers(1 << 31)))

    def write_input(self, name: str, tbl) -> str:
        d = os.path.join(self.work, name)
        os.makedirs(d)
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"),
                       row_group_size=20_000)
        return d

    def setup(self) -> None:
        """Start the session, write the inputs, build the table once, then
        run the workload's untimed warm-up operations. setup_s runs from
        process start to the end of this, the first timed operation's
        start."""
        from logparse_spark import pipeline
        from logparse_spark.fixtures.gen_transcripts import (gen_role_dict,
                                                             gen_tool_dict)
        from logparse_spark.rules import load_rules

        self.nproc = len(os.sched_getaffinity(0))
        # each task of the Arrow-UDF stages keeps a JVM task thread and a
        # Python worker busy, so local[nproc/2] fills the CPUs; local[nproc]
        # ran no faster and left twice as many runnable threads as CPUs
        self.cores = max(1, self.nproc // 2)
        self.compiled = load_rules(RULES)
        t = time.monotonic()
        self.start_spark()
        self.context["session_start_s"] = time.monotonic() - t
        t = time.monotonic()
        self.dict_dir = os.path.join(self.work, "dict")
        os.makedirs(self.dict_dir)
        pq.write_table(gen_role_dict(), os.path.join(self.dict_dir, "role_dict.parquet"))
        pq.write_table(gen_tool_dict(), os.path.join(self.dict_dir, "tool_dict.parquet"))
        n = self.turns(self.p["ingest_turns"])
        tbl = self.gen(n, max(10, n // 20))
        self.ingest_src, self.ingest_turns = self.write_input("ingest", tbl), n
        self.ingest_convs = conv_ts(tbl)
        self.kernel_input = (tbl.column("text").combine_chunks()[:100_000],
                             tbl.column("tool").combine_chunks()[:100_000])
        nb = self.turns(self.p["build_turns"])
        btbl = self.gen(nb, max(10, nb // 20))
        build_src = self.write_input("base", btbl)
        self.context["inputs_s"] = time.monotonic() - t
        t = time.monotonic()
        table = Table(self.new_dir("table"), conv_ts(btbl))
        pipeline.run(self.spark, build_src, table.path, RULES, self.dict_dir,
                     buckets="auto", hot_threshold="auto")
        self.tally(self.manifest_rows(table.path) == table.rows,
                   "set-up table build")
        self.context["build_s"] = time.monotonic() - t
        self.target = table
        self.last_load = None
        # the first call of each operation in a process runs 1.3-2x slower
        # than later ones: the first calls run on the set-up table before
        # timing
        t = time.monotonic()
        self.warming = True
        self.report(table.path, "warm-up")
        if self.p["warm_up_upsert"]:
            self.upsert_and_read(table)
        for kind in dict.fromkeys(READS):
            self.step(kind)
        self.warming = False
        self.context["warm_up_s"] = time.monotonic() - t
        self.samples["setup_s"] = [time.monotonic() - PROCESS_START]

    def new_dir(self, stem: str) -> str:
        self.n_dirs += 1
        return os.path.join(self.work, f"{stem}{self.n_dirs}")

    # -- checks ----------------------------------------------------------

    def tally(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    @staticmethod
    def manifest_rows(path: str) -> int:
        from logparse_spark.sinks import load_manifest

        return sum(int(m["rows"]) for m in load_manifest(path)["buckets"].values())

    @staticmethod
    def sink_totals(path: str) -> dict:
        from logparse_spark.sinks import load_manifest

        out: dict[str, int] = {}
        for m in load_manifest(path)["buckets"].values():
            for s, n in m["sinks"].items():
                out[s] = out.get(s, 0) + int(n)
        return out

    # -- operations --------------------------------------------------------

    def op(self, kind: str, fn, check) -> float | None:
        """Run one timed operation under its own job group. ``fn`` returns
        the value ``check`` validates; returns the wall time, or None if
        the operation raised or its check failed."""
        group = f"{kind}-{len(self.ops)}"
        self.sc.setJobGroup(group, kind)
        rec = {"kind": kind, "group": group, "traced": bool(
            self.tracer and self.tracer.enabled)}
        if rec["traced"]:
            self.tracer.op_id = group
            rec["first_exec"] = self.status.next_execution_id()
        t = time.monotonic()
        try:
            out = fn(rec)
            wall = time.monotonic() - t
            ok = check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            wall, ok = None, False
        rec["wall"] = wall
        self.ops.append(rec)
        if rec["traced"] and wall is not None:
            self.collect_status(rec)
        return wall if self.tally(ok, f"{kind} ({group})") else None

    def sample(self, metric: str, value) -> None:
        if value is not None and not self.warming:
            self.samples[metric].append(value)

    def ingest(self, path: str) -> None:
        from logparse_spark import pipeline

        def fn(rec):
            return pipeline.run(self.spark, self.ingest_src, path, RULES,
                                self.dict_dir, buckets="auto",
                                hot_threshold="auto")

        def check(res):
            totals = self.sink_totals(path)
            if self.ref_sinks is None:
                self.ref_sinks = totals
            return (res.total_rows_processed == self.ingest_turns
                    and sum(totals.values()) == self.ingest_turns
                    and totals == self.ref_sinks)

        wall = self.op("ingest", fn, check)
        if wall is not None:
            self.sample("ingest_turns_per_s", self.ingest_turns / wall)
            size = sum(os.path.getsize(os.path.join(r, f))
                       for r, _, fs in os.walk(os.path.join(path, "runs"))
                       for f in fs if f.endswith(".parquet"))
            self.sample("sink_bytes_per_turn", size / self.ingest_turns)

    def report(self, path: str, source: str) -> None:
        from logparse_spark import pipeline

        def check(text):
            ref = self.ref_reports.setdefault(source, text)
            return text == ref and text.startswith("LogParse")

        wall = self.op("report", lambda rec: pipeline.render_report(
            self.spark, path, self.compiled), check)
        self.sample("report_s", wall)

    def read(self, kind: str, make, expected: int) -> None:
        """A read op: ``make()`` is the program's read_* call (driver-side
        planning); the count is the action that executes it."""
        def fn(rec):
            t = time.monotonic()
            df = make()
            rec["plan_s"] = time.monotonic() - t
            t = time.monotonic()
            n = df.count()
            rec["exec_s"] = time.monotonic() - t
            rec["rows"] = n
            if rec["traced"]:
                rec["files"] = len(df.inputFiles())
            return n

        wall = self.op(kind, fn, lambda n: n == expected)
        self.sample({"lookup": "lookup_p50_s", "export": "export_p50_s",
                     "timerange": "timerange_p50_s"}[kind], wall)

    def lookup(self, table: Table, conv: str) -> None:
        from logparse_spark.sinks import SinkSet

        ss = SinkSet(out_dir=table.path)
        self.read("lookup", lambda: ss.read_conversation(self.spark, conv),
                  len(table.convs[conv]))

    def random_convs(self, table: Table, k: int) -> list[str]:
        keys = sorted(table.convs)
        idx = self.rng.choice(len(keys), size=min(k, len(keys)), replace=False)
        return [keys[i] for i in idx]

    def export(self, table: Table) -> None:
        from logparse_spark.sinks import SinkSet

        ss = SinkSet(out_dir=table.path)
        ids = self.random_convs(table, EXPORT_IDS)
        self.read("export", lambda: ss.read_conversations(self.spark, ids),
                  sum(len(table.convs[c]) for c in ids))

    def timerange(self, table: Table) -> None:
        from logparse_spark.sinks import SinkSet

        ss = SinkSet(out_dir=table.path)
        lo_all = min(int(v.min()) for v in table.convs.values())
        hi_all = max(int(v.max()) for v in table.convs.values())
        span_us = int(WINDOW.total_seconds() * 1e6)
        lo_us = int(self.rng.integers(lo_all, max(lo_all + 1, hi_all - span_us)))
        lo = datetime(1970, 1, 1) + timedelta(microseconds=lo_us)
        self.read("timerange",
                  lambda: ss.read_time_range(self.spark, lo, lo + WINDOW),
                  table.in_window(lo_us, lo_us + span_us))

    def make_batch(self, table: Table):
        """One re-delivery file: BATCH_CONVS conversations, half of them
        ids already in the table (their turns replace the old ones), half
        new ids."""
        tbl = self.gen(BATCH_TURNS, BATCH_CONVS)
        gen_ids = sorted(set(tbl.column("conv_id").to_pylist()))
        n_old = int(len(gen_ids) * REDELIVERED_SHARE)
        old = self.random_convs(table, n_old)
        self.n_batches += 1
        new = [f"up{self.n_batches:05d}-{j:03d}" for j in range(len(gen_ids) - len(old))]
        mapping = dict(zip(gen_ids, old + new))
        ids = np.array([mapping[c] for c in tbl.column("conv_id").to_pylist()],
                       dtype=object)
        tbl = tbl.set_column(0, "conv_id", pa.array(ids, type=pa.string()))
        return tbl, old

    def upsert_and_read(self, table: Table) -> None:
        from logparse_spark import streaming

        tbl, redelivered = self.make_batch(table)
        batch = conv_ts(tbl)
        os.makedirs(table.stream_dir, exist_ok=True)
        staged = os.path.join(self.work, "staged.parquet")
        pq.write_table(tbl, staged)
        os.replace(staged, os.path.join(
            table.stream_dir, f"batch-{self.n_batches:05d}.parquet"))
        before = self.manifest_rows(table.path)
        replaced = sum(len(table.convs[c]) for c in redelivered)

        def fn(rec):
            q = streaming.upsert_stream(
                self.spark, table.stream_dir, table.path, RULES,
                checkpoint_dir=table.checkpoint, dict_dir=self.dict_dir)
            rec["stream_group"] = str(q.runId)
            return self.manifest_rows(table.path)

        wall = self.op("upsert", fn,
                       lambda after: after == before - replaced + len(tbl))
        self.sample("upsert_p50_s", wall)
        table.replace(batch)
        for conv in redelivered[:2]:
            self.lookup(table, conv)

    def step(self, kind: str) -> None:
        """One timed operation (an upsert brings its read-backs)."""
        if kind == "ingest":
            if self.tracer and not self.overhead_loads_done:
                self.overhead_loads_done = True
                # loads traced, untraced, untraced, then traced: later loads
                # run faster, and this order gives both sides the same
                # drift, so the difference of their medians is the tracing
                # overhead. The last load is the one the run keeps.
                for traced in (True, False, False):
                    self.tracer.enabled = traced
                    path = self.new_dir("load")
                    self.ingest(path)
                    Table(path, {}).drop()
                self.tracer.enabled = True
            path = self.new_dir("load")
            self.ingest(path)
            if self.p["load_is_target"]:
                self.target.drop()
                self.target = Table(path, self.ingest_convs)
            elif self.last_load:
                Table(self.last_load, {}).drop()
            self.last_load = path
        elif kind == "report":
            self.report(self.last_load, "ingest")
        elif kind == "upsert":
            self.upsert_and_read(self.target)
        elif kind == "export":
            self.export(self.target)
        elif kind == "timerange":
            self.timerange(self.target)
        else:
            self.lookup(self.target, self.random_convs(self.target, 1)[0])

    @staticmethod
    def table_state(path: str) -> dict:
        from logparse_spark.sinks import SinkSet

        mdir = os.path.join(path, "_manifest")
        return {
            "sinks.history_len": len(SinkSet(out_dir=path).snapshots()),
            "sinks.manifest_bytes": sum(
                os.path.getsize(os.path.join(mdir, f)) for f in os.listdir(mdir)),
            "sinks.run_dirs": len(os.listdir(os.path.join(path, "runs"))),
        }

    # -- traced run ------------------------------------------------------

    def collect_status(self, rec: dict) -> None:
        jobs = self.status.job_ids(rec["group"])
        if "stream_group" in rec:
            jobs += self.status.job_ids(rec["stream_group"])
        rec["jobs"] = jobs
        rec["job_s"] = self.status.job_seconds(jobs)
        rec["stages"] = self.status.stage_totals(jobs)
        rec["sql"] = self.status.sql_metrics(rec["first_exec"])
        if rec["kind"] == "upsert":
            # write amplification: rows the merge's commit published,
            # read before the next merge repoints the buckets
            from logparse_spark.sinks import load_manifest

            buckets = load_manifest(self.target.path)["buckets"]
            for s in self.tracer.closed():
                if s["op"] == rec["group"] and s["name"] == "sinks.merge_classified":
                    s["rewritten_rows"] = sum(
                        int(buckets[str(b)]["rows"])
                        for b in s["result"]["rewritten_buckets"])

    def kernel_rate(self) -> float:
        from logparse_spark.kernel import parse_and_match_arrow

        text, tool = self.kernel_input
        parse_and_match_arrow(text[:1000], tool[:1000], self.compiled)
        rates = []
        for _ in range(3):
            t = time.monotonic()
            parse_and_match_arrow(text, tool, self.compiled)
            rates.append(len(text) / (time.monotonic() - t))
        return median(rates)

    def layer_metrics(self) -> dict:
        tr = self.tracer
        traced = [r for r in self.ops if r["traced"] and r["wall"] is not None]
        by_kind = {k: [r for r in traced if r["kind"] == k]
                   for k in ("ingest", "report", "upsert", "lookup", "export",
                             "timerange")}
        reads = by_kind["lookup"] + by_kind["export"] + by_kind["timerange"]
        spans = tr.closed()

        def op_spans(rec, name):
            return [s for s in spans if s["op"] == rec["group"] and s["name"] == name]

        def dur(s):
            return s["end"] - s["start"]

        def sql(rec, key):
            return sum(v for k, v in rec["sql"].items() if k.endswith(key))

        sizing = ("stages.tune_scan_splits", "stages.auto_bucket_count",
                  "stages.input_row_count")
        bucket_sizing, run_self, covered = [], [], []
        for rec in by_kind["ingest"]:
            bucket_sizing.append(sum(
                dur(s) for s in spans if s["op"] == rec["group"]
                and s["name"] in sizing
                and (s["parent"] is None or tr.spans[s["parent"]]["name"] not in sizing)))
            for s in op_spans(rec, "pipeline.run"):
                i = tr.spans.index(s)
                run_self.append(tr.self_time(i))
                covered.append(1 - tr.self_time(i) / dur(s))
        merges = [s for s in spans if s["name"] == "sinks.merge_classified"]
        amplification = []
        for s in merges:
            if s["result"]["rows_inserted"]:
                amplification.append(s["rewritten_rows"] / s["result"]["rows_inserted"])
        overhead = []
        for rec in by_kind["upsert"]:
            m = sum(dur(s) for s in op_spans(rec, "sinks.merge_classified"))
            overhead.extend(dur(s) - m for s in op_spans(rec, "streaming.upsert_stream"))
        report_jobs = [
            rec["job_s"] + sum(dur(s) for s in spans if s["op"] == rec["group"]
                               and s["name"] in ("sinks.lineage_df", "sinks.read_routed"))
            for rec in by_kind["report"]]
        read_spans = ("sinks.read_conversation", "sinks.read_conversations",
                      "sinks.read_time_range")
        scanned = sum(v for r in reads for k, v in r["sql"].items()
                      if k.startswith("Scan") and k.endswith("/number of output rows"))
        ingest = by_kind["ingest"]
        # the four loads of the first ingest step (see step)
        first_loads = [r for r in self.ops if r["kind"] == "ingest"][:4]
        walls = {t: [r["wall"] for r in first_loads
                     if r["wall"] is not None and r["traced"] is t]
                 for t in (True, False)}
        out = {
            "rules.load_s": median(tr.durations("rules.load_rules")),
            "stages.bucket_sizing_s": median(bucket_sizing),
            "stages.hot_probe_s": median(tr.durations("stages.detect_hot_convs")),
            "stages.exchange_bytes": median([sql(r, "Exchange/shuffle bytes written") for r in ingest]),
            "stages.exchange_records": median([sql(r, "Exchange/shuffle records written") for r in ingest]),
            "kernel.rows_per_s": self.kernel_rate(),
            "udf.python_worker_s": median([sql(r, "ArrowEvalPython/time to run Python workers") for r in ingest]),
            "udf.python_init_s": median([sql(r, "ArrowEvalPython/time to initialize Python workers") for r in ingest]),
            "udf.arrow_bytes_sent": median([sql(r, "data sent to Python workers") for r in ingest]),
            "udf.arrow_bytes_returned": median([sql(r, "data returned from Python workers") for r in ingest]),
            "sinks.write_classified_s": median(tr.durations("sinks.write_classified")),
            "sinks.sort_spill_bytes": median([r["stages"]["memoryBytesSpilled"] + r["stages"]["diskBytesSpilled"] for r in ingest]),
            "sinks.output_bytes": median([r["stages"]["outputBytes"] for r in ingest]),
            "sinks.output_files": median([sql(r, "number of written files") for r in ingest]),
            "sinks.commit_s": median(tr.durations("sinks.commit")),
            **self.end_state,
            "sinks.read_plan_s": median([dur(s) for s in spans if s["name"] in read_spans]),
            "sinks.read_exec_s": median([r["exec_s"] for r in reads]),
            "sinks.jobs_per_read": median([len(r["jobs"]) for r in reads]),
            "sinks.files_per_read": median([r["files"] for r in reads]),
            "sinks.rows_returned_per_row_scanned":
                sum(r["rows"] for r in reads) / scanned if scanned else float("nan"),
            "sinks.merge_s": median([dur(s) for s in merges]),
            "sinks.merge_rows_rewritten_per_upserted": median(amplification),
            "streaming.trigger_overhead_s": median(overhead),
            "pipeline.run_self_s": median(run_self),
            "pipeline.run_covered_share": median(covered),
            "pipeline.report_jobs_s": median(report_jobs),
            "spark.gc_s": sum(r["stages"]["jvmGcTime"] for r in traced) / 1e3,
            "spark.executor_cpu_s": sum(r["stages"]["executorCpuTime"] for r in traced) / 1e9,
            "spark.tasks": sum(r["stages"]["numCompleteTasks"] for r in traced),
            "trace.traced_ingest_s": median(walls[True]),
            "trace.untraced_ingest_s": median(walls[False]),
        }
        return out

    # -- main loop -------------------------------------------------------

    def run(self) -> dict:
        self.setup()
        if self.args.trace:
            from tracing import StatusReader, Tracer

            self.tracer = Tracer()
            self.tracer.install()
            self.tracer.enabled = True
            self.status = StatusReader(self.spark)
        heavy = HEAVY * self.p["passes"]
        per_slot = math.ceil(MIN_READS / len(heavy))
        plan = [k for h in heavy for k in (h,) + ("read",) * per_slot]
        steal0 = cpu_steal()
        t0 = time.monotonic()
        done = 0
        while done < len(plan) or time.monotonic() - t0 < self.args.seconds:
            kind = plan[done] if done < len(plan) else "read"
            if kind == "read":
                kind = READS[self.n_reads % len(READS)]
                self.n_reads += 1
            self.step(kind)
            done += 1
            self.probes.append(probe())
        steal1 = cpu_steal()
        if steal0 and steal1 and steal1[1] > steal0[1]:
            self.context["cpu_steal_share"] = (
                (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]))
        self.context.update(operations=done, measured_s=time.monotonic() - t0)
        self.end_state = self.table_state(self.target.path)
        if self.tracer:
            self.tracer.enabled = False
            metrics = self.layer_metrics()
            if self.args.workload == "bulk_ingest":
                covered = metrics["pipeline.run_covered_share"]
                self.tally(covered >= 1 - RUN_COVER_TOLERANCE,
                           f"pipeline.run span reconciliation: child spans "
                           f"cover {covered:.1%} of its wall time")
            units = LAYER_UNITS
            os.makedirs("perfbench-results", exist_ok=True)
            self.tracer.dump(os.path.join(
                "perfbench-results",
                f"trace-{self.args.workload}-seed{self.args.seed}.json"),
                extra={"context": self.context, "metrics": metrics,
                       "ops": self.ops})
            self.tracer.uninstall()
        else:
            metrics = {k: median(v) for k, v in self.samples.items()}
            units = E2E_UNITS
        self.context["samples"] = {k: [round(x, 4) for x in v]
                                   for k, v in self.samples.items()}
        for k in units:
            if not math.isfinite(metrics[k]):
                self.tally(False, f"metric {k} not measured")
                metrics[k] = None
        return {"metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()


def git_sha() -> str:
    head = os.path.join(".git", "HEAD")
    try:
        with open(head, encoding="utf-8") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(".git", ref[5:]), encoding="utf-8") as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def cpu_steal():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None: the
    share of CPU time the hypervisor gave to other guests."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def probe() -> float:
    """Seconds for a fixed pure-Python workload in this process: taken
    after every operation, its spread shows how steady the host was."""
    t = time.monotonic()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return time.monotonic() - t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the smoke test uses a toy size)")
    args = ap.parse_args(argv)
    if not (os.path.isdir("logparse_spark") and os.path.isfile(RULES)):
        print("perfbench: run from the repository root (logparse_spark/ and "
              f"{RULES} not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    work = os.path.abspath(os.path.join(
        ".perfbench-work", f"{args.workload}-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every temp file of this process, the JVM and the Python workers
    # stays inside the work dir, which is removed on exit
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                      SPARK_DRIVER_MEM=DRIVER_MEMORY,
                      _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    bench = Bench(args, work)
    try:
        result = bench.run()
        import pyspark

        bench.context.update(
            workload=args.workload, seed=args.seed, nproc=bench.nproc,
            spark_cores=bench.cores,
            spark=pyspark.__version__, pyarrow=pa.__version__,
            git_sha=git_sha(), scale=args.scale,
            cpu_probe_s={"min": min(bench.probes), "median": median(bench.probes),
                         "max": max(bench.probes)})
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".perfbench-work")
        except OSError:
            pass
    print(json.dumps({"context": bench.context}))
    print(json.dumps({"correct": bench.failed == 0 and bench.attempted > 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
