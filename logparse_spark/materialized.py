"""Incrementally-maintained materialized aggregate over the routed
table — the lakehouse incremental-view-maintenance pattern.

At 10^12 turns the dashboard aggregate ("rows per sink per day")
cannot be recomputed by rescanning the table on every refresh. This
view keeps a tiny parquet summary plus a watermark of the last
snapshot it absorbed; ``refresh()`` reads ONLY the snapshots since
through the table's change feed (:meth:`SinkSet.changes`), sums the
signed rows (+1 per insert, -1 per delete) into the summary, and
atomically repoints the view. Appends, merges, deletes and
compactions all stay incremental, so an upsert stream keeps the view
current in O(batch) per micro-batch. Where the feed cannot answer — a
rollback in the range, a merge or delete written before merges
recorded their keys, a snapshot whose runs were vacuumed, or a table
reset under the view — the refresh degrades to ONE full recompute and
the incremental path resumes from there.

The view swap mirrors the sink-manifest protocol: each refresh writes
a new ``v<uuid>`` directory and atomically replaces ``_view.json``
(pointer + watermark); a crash mid-refresh leaves the old view
readable and the orphan directory collectable. Superseded view
versions are retained for ``min_age_minutes`` after the swap (same
grace discipline as :meth:`SinkSet.vacuum`): a reader that loaded the
old pointer just before the swap can still finish its scan; each
refresh sweeps only versions older than the grace window.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import SinkSet, _atomic_write_json


class SinkDailyCounts:
    """rows per (sink_id, day) — the running ops dashboard table."""

    def __init__(self, table_dir: str, view_dir: str,
                 min_age_minutes: float = 30.0) -> None:
        self.table_dir = table_dir
        self.view_dir = view_dir
        # grace window before a superseded view version is deleted
        self.min_age_minutes = min_age_minutes

    def _state_path(self) -> str:
        return os.path.join(self.view_dir, "_view.json")

    def _state(self) -> dict | None:
        try:
            with open(self._state_path(), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    @staticmethod
    def _aggregate(df: DataFrame) -> DataFrame:
        """Rows per (sink, day); a change-feed frame's deletes count
        -1."""
        n = F.count(F.lit(1)) if "_change_type" not in df.columns else \
            F.sum(F.when(F.col("_change_type") == "delete", -1).otherwise(1))
        return (
            df.filter(F.col("sink_id") != "ignored")
            .groupBy("sink_id",
                     F.date_trunc("day", "ts").alias("day"))
            .agg(n.cast("long").alias("n"))
        )

    def status(self) -> dict:
        """Operator-facing view census WITHOUT a Spark session: the
        watermark vs the table's snapshot log (how stale the view
        is), the current version pointer, and how many superseded
        version dirs are still inside their grace window. A pure
        JSON/manifest/filesystem read — the check a dashboard or cron
        probe runs before deciding whether to trigger a refresh."""
        st = self._state()
        latest = len(SinkSet(out_dir=self.table_dir).snapshots()) - 1
        cur = st["data"] if st else None
        versions = []
        try:
            versions = sorted(
                n for n in os.listdir(self.view_dir)
                if n.startswith("v") and n != cur
                and os.path.isdir(os.path.join(self.view_dir, n)))
        except FileNotFoundError:
            pass
        return {
            "initialized": st is not None,
            "watermark_snapshot": st["snapshot"] if st else None,
            "table_snapshot": latest,
            "snapshots_behind": (latest - st["snapshot"]) if st else None,
            "current_version": cur,
            # SUPERSEDED dirs still inside their grace window (the
            # current pointer target is not counted)
            "retained_versions": len(versions),
        }

    def read(self, spark: SparkSession) -> DataFrame:
        st = self._state()
        if st is None:
            raise FileNotFoundError(
                f"no materialized view under {self.view_dir} — refresh() first")
        return spark.read.parquet(os.path.join(self.view_dir, st["data"]))

    def refresh(self, spark: SparkSession) -> dict:
        """Absorb snapshots newer than the watermark. Returns
        {"mode": "noop" | "incremental" | "full", "snapshot": w}."""
        ss = SinkSet(out_dir=self.table_dir)
        latest = len(ss.snapshots()) - 1
        st = self._state()
        last = st["snapshot"] if st else -1
        if latest == last:
            self._sweep_stale(current=st["data"] if st else None)
            return {"mode": "noop", "snapshot": latest}
        mode = "incremental" if st else "full"
        if st and last > latest:
            # table recreated/reset under the same view dir: the
            # watermark points past the snapshot log — re-baseline
            mode = "full"
        elif st:
            try:
                delta = self._aggregate(
                    ss.changes(spark, since=last, until=latest))
                merged = (
                    self.read(spark).unionByName(delta)
                    .groupBy("sink_id", "day").agg(F.sum("n").alias("n"))
                    .filter(F.col("n") != 0)
                )
            except (ValueError, IndexError, FileNotFoundError):
                # the feed crosses a rollback or a pre-feed merge/delete
                # (ValueError), the snapshot log is shorter than the
                # watermark implies (IndexError, table reset), or a run
                # in the range was vacuumed (FileNotFoundError): one
                # full recompute re-baselines the view
                mode = "full"
        if mode == "full":
            merged = self._aggregate(ss.read_routed(spark))
        # the summary is tiny (sinks x days): one file reads fastest;
        # _publish stamps the outgoing version's SUPERSEDE time so the
        # grace window runs from when readers could last load its
        # pointer, not from when the dir was written
        self._publish(merged, latest, prev=st)
        return {"mode": mode, "snapshot": latest}

    def _publish(self, merged: DataFrame, snapshot: int,
                 prev: dict | None) -> None:
        """Write a new view version and atomically repoint, recording
        the outgoing version's SUPERSEDE TIME in the state file the
        swap writes anyway — durable by construction: if that write
        fails, the whole swap fails, so a superseded dir can never
        exist without its stamp (an os.utime on the dir could fail
        independently and leave a long-lived version looking
        sweep-eligible the instant it is superseded — the
        premature-deletion window the grace period exists to close).
        The dir mtime is still touched as a redundant second clock;
        stale map entries prune once their dirs are swept."""
        new = f"v{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.view_dir, new)
        merged.coalesce(1).write.mode("overwrite").parquet(out)
        sup = {
            name: ts
            for name, ts in ((prev or {}).get("superseded") or {}).items()
            if os.path.isdir(os.path.join(self.view_dir, name))
        }
        if prev:
            sup[prev["data"]] = time.time()
            try:
                os.utime(os.path.join(self.view_dir, prev["data"]))
            except OSError:
                pass  # the state-file stamp above is authoritative
        _atomic_write_json(self._state_path(),
                           {"snapshot": snapshot, "data": new,
                            "superseded": sup})
        self._sweep_stale(current=new)

    def _sweep_stale(self, current: str | None) -> None:
        """Delete superseded ``v*`` version dirs older than the grace
        window, measured from their SUPERSEDE time — max(dir mtime,
        the state file's superseded-map stamp). Never touches the
        current pointer target; a version that was JUST superseded
        survives until it ages out, so in-flight readers of the old
        pointer finish cleanly."""
        cutoff = time.time() - self.min_age_minutes * 60.0
        try:
            entries = os.listdir(self.view_dir)
        except FileNotFoundError:
            return
        st = self._state()
        sup = (st or {}).get("superseded") or {}
        for name in entries:
            if name == current or not name.startswith("v"):
                continue
            p = os.path.join(self.view_dir, name)
            try:
                if not os.path.isdir(p):
                    continue
                stamp = max(os.path.getmtime(p),
                            float(sup.get(name, 0.0)))
                if stamp < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
