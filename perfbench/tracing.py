"""Tracing for the benchmark's traced run, installed from outside the program.

``Tracer.install`` replaces public functions of the ``logparse_spark``
layer modules with timing shims. Each call records a span (name, start,
end, parent span, operation id) in memory; ``Tracer.dump`` writes them
out when the run ends. Nothing inside the package is edited: the shims
are set on the module or class attribute that the call sites look up,
and ``Tracer.uninstall`` puts the originals back.

``StatusReader`` reads Spark's two status stores over py4j: per-stage
task metrics (``AppStatusStore.lastStageAttempt``) for the jobs of one
job group, and per-operator SQL metrics (``SQLAppStatusStore``) for the
SQL executions those jobs belong to. Both work with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans nest by call order (one client
    thread), so the innermost open span is the parent of a new one."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: str | None = None
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": self.op_id, "start": time.monotonic(),
               "end": None, "parent": self._open[-1] if self._open else None,
               **attrs}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._open.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a shim that records a span named
        ``name`` around each call; the span keeps the call's result under
        ``"result"`` so counters can be read from it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if rec is not None:
                    rec["result"] = out
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, shim)

    def install(self) -> None:
        from logparse_spark import pipeline, rules, sinks, stages, streaming

        # rules.load_rules is imported by name into pipeline and streaming,
        # so those bindings are the ones the production path calls
        for mod in (rules, pipeline, streaming):
            self.wrap(mod, "load_rules", "rules.load_rules")
        for fn in ("read_transcripts", "tune_scan_splits", "auto_bucket_count",
                   "input_row_count", "detect_hot_convs"):
            self.wrap(stages, fn, f"stages.{fn}")
        for fn in ("run", "classify", "render_report"):
            self.wrap(pipeline, fn, f"pipeline.{fn}")
        self.wrap(streaming, "upsert_stream", "streaming.upsert_stream")
        for fn in ("write_classified", "commit", "merge_classified",
                   "read_conversation", "read_conversations",
                   "read_time_range", "read_routed", "lineage_df"):
            self.wrap(sinks.SinkSet, fn, f"sinks.{fn}")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- derived views ---------------------------------------------------

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its direct children cover
        (children are sequential: one client thread)."""
        s = self.spans[idx]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == idx and c["end"] is not None)
        return (s["end"] - s["start"]) - kids

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed() if s["name"] == name]

    def self_times_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + self.self_time(i)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [{"id": i, "name": s["name"], "op": s["op"], "parent": s["parent"],
                 "start_s": round(s["start"] - t0, 6),
                 "end_s": round(s["end"] - t0, 6),
                 "self_s": round(self.self_time(i), 6)}
                for i, s in enumerate(self.spans) if s["end"] is not None]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": rows,
                       "self_s_by_layer": self.self_times_by_layer(),
                       **(extra or {})}, f, indent=1)


# -- Spark status stores ---------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "min": 60.0, "ns": 1e-9}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """SQL-metric display string -> number (bytes, seconds or a count).

    Aggregated metrics read ``"total (min, med, max (...))\\n12.3 MiB (...)"``;
    plain ones are a bare number. The total is the first value after the
    header line."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class StatusReader:
    """Reads per-stage and per-operator metrics for one job group."""

    STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                    "shuffleWriteBytes", "shuffleWriteRecords",
                    "memoryBytesSpilled", "diskBytesSpilled", "outputBytes",
                    "numCompleteTasks")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _java(self, scala_coll):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_seconds(self, job_ids: list[int]) -> float:
        """Sum of submission-to-completion wall time of the jobs."""
        total = 0.0
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                total += (done.get().getTime() - sub.get().getTime()) / 1e3
        return total

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        out = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        seen: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage skipped (never ran)
                    continue
                for f in self.STAGE_FIELDS:
                    out[f] += float(getattr(sd, f)())
        return out

    def next_execution_id(self) -> int:
        """Id the next SQL execution will get (ids are sequential)."""
        execs = self._java(self.sql_store.executionsList())
        return int(execs.get(execs.size() - 1).executionId()) + 1 if execs.size() else 0

    def sql_metrics(self, first_exec: int) -> dict[str, float]:
        """Operator metrics summed by "<node name>/<metric name>" over the
        SQL executions numbered ``first_exec`` and up: those of the
        operation that just ran (one client thread)."""
        out: dict[str, float] = {}
        execs = self._java(self.sql_store.executionsList())
        for i in range(execs.size() - 1, -1, -1):
            e = execs.get(i)
            if e.executionId() < first_exec:
                break
            names = {}
            graph = self.sql_store.planGraph(e.executionId())
            for node in self._java(graph.allNodes()):
                for m in self._java(node.metrics()):
                    names[m.accumulatorId()] = f"{node.name()}/{m.name()}"
            values = self._java(self.sql_store.executionMetrics(e.executionId()))
            for acc, text in dict(values).items():
                key = names.get(int(acc))
                if key is not None:
                    out[key] = out.get(key, 0.0) + parse_metric(str(text))
        return out
