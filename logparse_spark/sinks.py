"""Sink abstraction: fan-out writes + atomic manifest commit + lineage.

Production target is Iceberg (snapshot commit, bucket(B, conv_id)
partitioning — BASELINE.json:6); this sandbox has no Iceberg runtime
jar (SURVEY.md §M4), so the same protocol is implemented over parquet
with an atomic JSON manifest standing in for the snapshot:

  out_dir/
    _manifest/committed.json   atomic (tmp+rename); maps bucket ->
                               {run_id, rows, per-sink rows}  == lineage
                               (+ delta_run_id, delta_sinks once an
                               upsert has layered the bucket)
    runs/<run_id>/bucket=<b>/sink_id=<s>/part-*.parquet
    runs/<run_id>/_filestats.json  per-file conv_id / ts bounds
    runs/<run_id>/_run.json        the written schema, for a delta
                                   run the conv ids it supersedes, and
                                   for a merge or delete run the keys
                                   the change feed reads back

Readers only trust buckets listed in the manifest, so a job killed
mid-write leaves no visible partial state; a resumed run re-processes
exactly the uncommitted buckets (exactly-once at bucket granularity).
The per-(stage,bucket) row counts stored alongside are the
"per-partition lineage and row-count metrics" the north rule requires;
``rows``/``sinks`` are always the bucket's LIVE counts.

Merge-on-read: a bucket is a BASE run plus at most one DELTA run. An
upsert writes only its batch (plus the surviving rows of the old
delta) into a new delta run and lists, in that run's ``_run.json``,
every conv id the delta supersedes in the base — Iceberg v2's
equality-delete file keyed on ``conv_id``. Readers drop superseded
base rows with a literal ``~conv_id IN (...)`` filter. Operations that
rewrite live rows (compaction, delete, rebucket, and an upsert whose
delta would outgrow its base or whose delete set would outgrow
``MAX_SUPERSEDED_IDS``) FOLD the bucket back to one base run.

Lineage protocol (ONE pass over the data, ZERO read-back):
  - ``bucket`` and ``sink_id`` are both write-partition columns, so
    exact per-(bucket, sink) row counts come from the parquet FOOTERS
    of the files the write just produced — pure metadata (~KB per
    file), never a second scan of the data. This is precisely how an
    Iceberg commit gets its per-partition stats (manifest-file row
    counts); on the Iceberg branch the snapshot itself carries them.
  - A write-time ``Observation`` rides the same action carrying ONLY
    the conservation row total (one interpreted count per row —
    negligible). Per-sink conversation cardinality is not observed at
    write time: CollectMetrics evaluates its aggregates interpreted,
    outside whole-stage codegen, and per-sink HLL sketches measured
    ≈ +1.7s on a ~6.5s sf0.1 job (BENCH/LINEAGE.md).
    ``compute_sink_cardinality()`` instead runs an EXACT countDistinct
    at reporting time over the committed table reading only the
    ``conv_id`` column (``sink_id`` is a partition directory — no
    data read for it), amortized across however many commits happened
    since; ``sketches.py`` holds the mergeable approximate path.
"""

from __future__ import annotations

import bisect
import json
import os
import struct
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rules import spark_in

MANIFEST_DIR = "_manifest"
MANIFEST_FILE = "committed.json"
# per-run commit-time sidecar: {"schema": <StructType json>,
# "supersedes": {bucket: [conv_id, ...]}} (on delta runs), and on merge
# and delete runs "keys": [conv_id, ...] plus "null_buckets": [bucket,
# ...] (the merge's null-id rows), which ``changes()`` reads back
RUN_META_FILE = "_run.json"
# a layered bucket folds once its delete set D(b) would list more conv
# ids than this. Every read that plans both layers of a bucket pays for
# D(b) as literals in its plan, about 50 us per id on a 4-core VM
# (BENCH/ROWOPS.md); 256 keeps that under 13 ms per bucket read.
MAX_SUPERSEDED_IDS = 256

# the routed table's column universe: the two dynamic-partition keys
# first, then identity/order keys, rule outputs, and the broadcast-
# enrichment columns (J1). write_classified and merge_classified both
# project onto (the present subset of) this list, so every committed
# run draws its schema from one place.
SINK_COLUMNS = ["bucket", "sink_id", "conv_id", "turn_idx", "role", "ts",
                "rule_id", "rule_name", "action", "rendered", "count_key",
                "role_class", "weight", "tool_family", "is_privileged"]


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST_DIR, MANIFEST_FILE)


def load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return {"buckets": {}, "history": []}
    with open(p, encoding="utf-8") as f:
        return json.load(f)


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: a bucket this commit rewrote was
    repointed by another commit after we read it — the analogue of
    Iceberg's snapshot-validation failure. Re-read and retry the op."""


class _commit_lock:
    """Serializes manifest read-modify-write across processes on one
    host via an O_EXCL lockfile (the catalog-CAS stand-in; on Iceberg
    the catalog's atomic swap owns this). Stale locks (holder died)
    are broken after ``stale_sec``."""

    def __init__(self, out_dir: str, timeout: float = 30.0,
                 stale_sec: float = 300.0):
        self.path = os.path.join(out_dir, MANIFEST_DIR, "LOCK")
        self.timeout = timeout
        self.stale_sec = stale_sec

    def __enter__(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self.path)
                    if age > self.stale_sec:
                        os.unlink(self.path)  # holder died mid-commit
                        continue
                except FileNotFoundError:
                    continue  # released between our open and stat
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock {self.path} held for {self.timeout}s — "
                        "another commit in flight (or raise stale_sec)"
                    )
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            os.unlink(self.path)
        except FileNotFoundError:
            pass


def _stat_str(v) -> str | None:
    """Parquet string-column min/max as a Python str, or None when the
    value cannot be represented faithfully. pyarrow surfaces UTF8
    logical-type stats as str but plain BYTE_ARRAY stats as bytes;
    UTF-8 byte order equals code-point order, so a clean decode
    preserves the comparison pruning relies on — anything else makes
    the file unprunable rather than risk a wrong bound."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        try:
            return bytes(v).decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _stat_ts(v) -> str | None:
    """Parquet timestamp-column min/max as a sortable ISO string (or
    None when unrepresentable). pyarrow surfaces TIMESTAMP stats as
    datetime — tz-aware when the file says isAdjustedToUTC, which the
    canonical NTZ frame never writes; an aware value is normalized to
    naive UTC so mixed layouts still compare on one axis."""
    import datetime as _dt

    if not isinstance(v, _dt.datetime):
        return None
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v.isoformat(sep=" ", timespec="microseconds")


def _parse_ts_bound(v) -> "object":
    """Accept a datetime or ISO string bound; return a naive datetime
    (comparisons against the sidecar's _stat_ts strings parse back
    through here, so boundary equality never depends on string
    formatting quirks)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        out = v
    else:
        out = _dt.datetime.fromisoformat(str(v).replace("T", " "))
    if out.tzinfo is not None:
        out = out.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return out


def _atomic_write_json(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


def committed_buckets(out_dir: str) -> set[int]:
    return {int(b) for b in load_manifest(out_dir)["buckets"]}


def _layer(meta: dict | None) -> tuple:
    """(base run, delta run or None) of a manifest bucket entry — the
    unit rewrite commits validate against (see ``commit``)."""
    return (meta or {}).get("run_id"), (meta or {}).get("delta_run_id")


def _by_run(layers: dict[int, dict]) -> dict[str, list[int]]:
    """Group bucket entries by the runs holding their rows: the base
    run and, for a layered bucket, its delta run."""
    by_run: dict[str, list[int]] = {}
    for b, meta in layers.items():
        for run_id in _layer(meta):
            if run_id:
                by_run.setdefault(run_id, []).append(int(b))
    return by_run


def _conv_in(ids) -> "F.Column":
    """``conv_id IN (ids)`` from one SQL string, parsed JVM-side in one
    go: the Column API makes one py4j call per literal (~0.8 ms each:
    0.37 s for the 450 ids of a few upserts' D(b)). Each id travels as
    a hex literal (:func:`rules.spark_lit`); the optimizer folds the
    casts back to strings and the IN into the same INSET ``isin``
    gives."""
    return F.expr(spark_in("conv_id", ids))


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int: Spark's ``xxhash64``
    of a string is this over its UTF-8 bytes, seed 42. Written from
    the public spec (github.com/Cyan4973/xxHash, doc/xxhash_spec.md)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        acc = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
               + _rotl(v[3], 18)) & _M64
        for a in v:
            acc = ((acc ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while i + 8 <= n:
        acc ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        acc = (_rotl(acc, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        acc ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        acc = (_rotl(acc, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        acc ^= b * _P5 & _M64
        acc = _rotl(acc, 11) * _P1 & _M64
    acc = (acc ^ (acc >> 33)) * _P2 & _M64
    acc = (acc ^ (acc >> 29)) * _P3 & _M64
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >> 63 else acc


def _bucket_ids(ids, n_buckets: int) -> dict[int, list[str]]:
    """{bucket: [ids]} under the placement contract every writer pins,
    ``bucket = pmod(xxhash64(conv_id), n_buckets)``, hashed on the
    driver by :func:`_xxh64` (Python's ``%`` of a positive count is
    already ``pmod``), so planning a read or a delete runs no Spark
    job. tests/test_row_ops_property.py pins it to the JVM expression
    over a DataFrame and to recorded golden values."""
    out: dict[int, list[str]] = {}
    for c in ids:
        out.setdefault(_xxh64(c.encode("utf-8")) % int(n_buckets),
                       []).append(c)
    return out


def _conv_not_in(ids) -> "F.Column":
    """The complement of :func:`_conv_in` that keeps null-id rows: a
    null conv_id equals no id, as in an anti-join, where plain
    negation of the IN would yield null and drop the row."""
    return ~_conv_in(ids) | F.col("conv_id").isNull()


def _apply(counts: dict[str, int], minus: dict[str, int],
           plus: dict[str, int]) -> dict[str, int]:
    """Per-sink ``counts - minus + plus``, zero entries dropped."""
    out = dict(counts)
    for s, n in minus.items():
        out[s] = out.get(s, 0) - n
    for s, n in plus.items():
        out[s] = out.get(s, 0) + n
    return {s: n for s, n in out.items() if n}


def _aggregate_partition_rows(triples) -> dict[int, dict]:
    """Fold (bucket, sink_id, rows) triples — one per data file, from
    parquet footers or Iceberg manifest entries — into the lineage
    shape {bucket: {"rows": n, "sinks": {sink: n}}}."""
    lineage: dict[int, dict] = {}
    for b, s, n in triples:
        entry = lineage.setdefault(b, {"rows": 0, "sinks": {}})
        entry["rows"] += n
        entry["sinks"][s] = entry["sinks"].get(s, 0) + n
    return lineage


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime + catalog is on the classpath."""
    try:
        # py4j attribute access never fails (returns a lazy JavaPackage);
        # only an actual classload proves the jar is present
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


@dataclass
class SinkSet:
    """A fan-out sink group rooted at ``out_dir`` (fmt="parquet") or an
    Iceberg table identifier (fmt="iceberg", ``table`` like
    "cat.db.routed")."""

    out_dir: str
    fmt: str = "parquet"  # "iceberg" branch activates where the jar exists
    table: str | None = None  # iceberg table identifier
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    _written: bool = field(default=False, repr=False)
    # one-pass footer-scan memo (valid: one immutable run per SinkSet)
    _footer_cache: list | None = field(default=None, repr=False)
    # what this run's _run.json records at commit: the written frame's
    # schema and, on a delta run, {bucket: conv ids it supersedes}
    _schema: object = field(default=None, repr=False)
    _supersedes: dict | None = field(default=None, repr=False)
    # a merge's or delete's change keys: {"keys": [...], "null_buckets":
    # [...]}, recorded in _run.json for the change feed
    _change_keys: dict | None = field(default=None, repr=False)
    # committed runs' _run.json, read once per instance (immutable)
    _meta_cache: dict = field(default_factory=dict, repr=False)

    def _run_dir(self) -> str:
        return os.path.join(self.out_dir, "runs", self.run_id)

    def _write_iceberg(self, out: DataFrame) -> None:
        """Iceberg branch: create-if-absent with the production
        partition spec — bucket(conv_id) via the precomputed ``bucket``
        column plus identity(sink_id) — then snapshot-append. The
        manifest/lineage protocol stays identical (Iceberg's own
        snapshot is then authoritative for readers; ours remains the
        resume ledger). Exercised only where the runtime jar exists —
        this sandbox has none, so the guard raises immediately instead
        of failing deep inside py4j."""
        spark = out.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                "fmt='iceberg' requires the iceberg-spark-runtime jar and a "
                "configured catalog; this environment has neither "
                "(SURVEY.md M4) — use fmt='parquet'"
            )
        if not self.table:
            raise ValueError("fmt='iceberg' needs table='cat.db.name'")
        writer = out.writeTo(self.table).partitionedBy("sink_id", "bucket")
        try:
            writer.append()
        except Exception as e:  # first write: table doesn't exist yet
            if "TABLE_OR_VIEW_NOT_FOUND" in str(e) or "does not exist" in str(e):
                writer.create()
            else:
                raise

    def write_classified(self, df: DataFrame) -> dict[int, dict]:
        """Single-pass fan-out write of ALL classified rows (ignored
        rows included, under sink_id=ignored with a null payload — at
        parquet level the constant columns dictionary-encode to almost
        nothing, and keeping them makes lineage a pure metadata read).

        Returns per-bucket lineage {bucket: {"rows": n, "sinks": {s: n}}}.

        One pass over the data, ONE job: the upstream plan (scan ->
        parse -> enrich -> repartition) executes exactly once, inside
        this write action — no persist, no second parse, and no
        read-back of the written output. Lineage row counts come from
        the parquet footers of the files this run just wrote (see
        module docstring); an ``Observation`` on the same action
        cross-checks conservation (sum of footer counts must equal the
        observed total). Exact per-sink cardinality comes on demand
        from :meth:`compute_sink_cardinality`.

        The sort key starts with the two dynamic-partition columns so
        the file writer's required ordering is pre-satisfied (single
        sequential open writer per task); (conv_id, turn_idx) after
        them preserves routed-row equality order within each sink.
        """
        from pyspark.sql import Observation

        if self._written:
            # the footer walk counts EVERY file under this run's dir, so
            # a second write through the same instance would double-count
            # the first write's rows against the second's Observation and
            # trip the conservation check — one write per SinkSet run
            raise RuntimeError(
                "this SinkSet already wrote run "
                f"{self.run_id!r}; create a new SinkSet (new run_id) for "
                "each write_classified call"
            )
        self._written = True
        keep = [c for c in SINK_COLUMNS if c in df.columns]
        obs = Observation()
        out = (
            df.select(*keep)
            .observe(obs, F.count(F.lit(1)).alias("rows_total"))
            .sortWithinPartitions("bucket", "sink_id", "conv_id", "turn_idx")
        )
        if self.fmt == "iceberg":
            self._write_iceberg(out)
        else:
            self._write_run(out)
        got = obs.get  # blocks until the (already finished) action reports
        if self.fmt == "iceberg":
            lineage = self._lineage_from_iceberg_snapshot(df.sparkSession)
        else:
            lineage = self._lineage_from_footers()
        total = sum(e["rows"] for e in lineage.values())
        if total != int(got["rows_total"]):
            raise RuntimeError(
                f"lineage conservation violated: footers count {total} rows, "
                f"write observed {got['rows_total']} — output files missing "
                f"or foreign files present under {self._run_dir()}"
            )
        return lineage

    def _write_run(self, df: DataFrame,
                   max_records_per_file: int | None = None) -> None:
        """Append ``df`` as this SinkSet's run, partitioned by (bucket,
        sink_id), and keep its schema for the commit-time sidecar, so
        readers plan the run with no schema-inference job."""
        self._schema = df.schema
        writer = df.write.mode("append")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy("bucket", "sink_id").parquet(self._run_dir())

    def _write_run_meta(self) -> None:
        """The run's ``_run.json``: the written schema (all fields
        nullable — parquet reads them so), on a delta run the conv ids
        per bucket whose base rows it supersedes, and on a merge or
        delete run its change keys. Written once,
        before the commit that makes the run visible, so a committed
        run's sidecar is immutable."""
        from pyspark.sql.types import StructField, StructType

        meta: dict = {}
        if self._schema is not None:
            meta["schema"] = StructType([
                StructField(f.name, f.dataType, True, f.metadata)
                for f in self._schema.fields]).jsonValue()
        if self._supersedes:
            meta["supersedes"] = {str(b): sorted(ids)
                                  for b, ids in self._supersedes.items()}
        if self._change_keys is not None:
            meta.update(self._change_keys)
        if meta:
            _atomic_write_json(
                os.path.join(self._run_dir(), RUN_META_FILE), meta)

    def _run_meta(self, run_id: str) -> dict:
        """A committed run's ``_run.json`` ({} for runs written before
        the sidecar existed: readers then infer the schema)."""
        if run_id not in self._meta_cache:
            p = os.path.join(self.out_dir, "runs", run_id, RUN_META_FILE)
            if not os.path.isfile(p):
                return {}
            with open(p, encoding="utf-8") as f:
                self._meta_cache[run_id] = json.load(f)
        return self._meta_cache[run_id]

    def _superseded_ids(self, delta_run_id: str | None, b: int) -> list[str]:
        """D(b): the conv ids whose base rows delta run
        ``delta_run_id`` supersedes in bucket ``b`` ([] without one)."""
        if not delta_run_id:
            return []
        return self._run_meta(delta_run_id).get(
            "supersedes", {}).get(str(b), [])

    def _lineage_from_iceberg_snapshot(self, spark: SparkSession) -> dict[int, dict]:
        """Per-(bucket, sink) row counts for the snapshot the write just
        committed, derived from Iceberg METADATA tables — the
        ``.snapshots`` table names the newest snapshot and the
        ``.entries`` table lists the data files it ADDED
        (``status = 1``) with their partition tuple and
        ``record_count``. Both are manifest reads (KBs of avro
        metadata), never a scan of the data itself — the exact Iceberg
        analogue of the parquet-footer walk on the other branch.
        Exercised only where the runtime jar exists (guard-tested here:
        write_classified raises before reaching this without one)."""
        snap = spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        if not snap:
            raise RuntimeError(f"no snapshot found on {self.table} after write")
        entries = spark.sql(
            "SELECT data_file.partition.bucket AS bucket, "
            "data_file.partition.sink_id AS sink_id, "
            "data_file.record_count AS rows "
            f"FROM {self.table}.entries "
            f"WHERE snapshot_id = {int(snap[0][0])} AND status = 1"
        ).collect()
        return _aggregate_partition_rows(
            (int(r["bucket"]), str(r["sink_id"]), int(r["rows"])) for r in entries
        )

    def _scan_footers(self) -> list[dict]:
        """ONE pass over this run's parquet footers, shared by the
        lineage aggregation and the file-stats sidecar (they used to be
        two separate walks reading every footer twice — at a real
        deployment's file counts the driver-side O(files) constant is
        the commit-latency floor, so it is paid once and threaded).
        Metadata-only: no Spark job, no data read; pyarrow releases the
        GIL around footer IO/parse so a small thread pool overlaps it.
        Returns one record per data file:
        ``{rel, bucket, sink_id, rows, conv_min, conv_max}`` where the
        conv bounds are None when unknowable (missing column, missing
        row-group stats, or non-UTF8 byte stats — such files stay
        unprunable rather than risk a wrong bound). The result is
        cached on the instance: each SinkSet writes exactly one run
        (enforced in write_classified), so the footers are immutable
        once scanned."""
        import pyarrow.parquet as pq

        if self._footer_cache is not None:
            return self._footer_cache
        run_dir = self._run_dir()
        todo = self._run_files(self.run_id)

        def one(rel: str) -> dict:
            parts = dict(seg.split("=", 1)
                         for seg in os.path.dirname(rel).split(os.sep)
                         if "=" in seg)
            md = pq.read_metadata(os.path.join(run_dir, rel))

            def bounds(col: str, to_py) -> tuple:
                # all-row-group stats or nothing: a single group with
                # missing/undecodable stats makes the column unprunable
                # for this file rather than risk a wrong bound
                try:
                    ci = md.schema.names.index(col)
                except ValueError:
                    return None, None
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        return None, None
                    # UTF-8 byte order equals code-point order, so
                    # early str conversion preserves the min/max
                    # comparison (conv_id); timestamps normalize to
                    # naive-UTC ISO strings (ts)
                    smin, smax = to_py(st.min), to_py(st.max)
                    if smin is None or smax is None:
                        return None, None
                    lo = smin if lo is None else min(lo, smin)
                    hi = smax if hi is None else max(hi, smax)
                return lo, hi

            conv_lo, conv_hi = bounds("conv_id", _stat_str)
            ts_lo, ts_hi = bounds("ts", _stat_ts)
            return {
                "rel": rel,
                "bucket": int(parts["bucket"]) if "bucket" in parts else None,
                "sink_id": parts.get("sink_id"),
                "rows": md.num_rows,
                "conv_min": conv_lo,
                "conv_max": conv_hi,
                "ts_min": ts_lo,
                "ts_max": ts_hi,
            }

        if len(todo) > 8:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(16, max(4, os.cpu_count() or 4))
            with ThreadPoolExecutor(max_workers=workers) as ex:
                recs = list(ex.map(one, todo))
        else:
            recs = [one(t) for t in todo]
        self._footer_cache = recs
        return recs

    def _lineage_from_footers(self) -> dict[int, dict]:
        """Exact per-(bucket, sink) row counts from the parquet footers
        of THIS run's files — metadata-only (the Iceberg-manifest
        pattern), no Spark job, no data read. Driver-side O(files);
        on a real deployment the table format's own commit metadata
        replaces this walk outright."""
        triples = []
        for r in self._scan_footers():
            if r["bucket"] is None or r["sink_id"] is None:
                raise RuntimeError(
                    f"parquet file {r['rel']!r} under run dir is not in a "
                    "bucket=<n>/sink_id=<s> partition directory — foreign "
                    "file, or the write was not partitioned"
                )
            triples.append((r["bucket"], r["sink_id"], r["rows"]))
        return _aggregate_partition_rows(triples)

    def _write_file_stats(self) -> None:
        """Per-FILE conv_id bounds sidecar (``_filestats.json`` in the
        run dir — underscore-prefixed, so Spark's listing ignores it).
        The Iceberg-manifest column-bounds analogue: every writer in
        this repo emits (conv_id, turn_idx)-sorted files, so per-file
        [min, max] conv_id ranges are narrow (and disjoint across a
        compacted partition's rolled files), letting a point lookup
        plan over the 1–2 files that can contain its key instead of
        scheduling every file in the bucket dir. Derived from parquet
        footer statistics only — no data read, and no second walk: the
        bounds come from the same :meth:`_scan_footers` pass lineage
        used. Parquet may truncate long string stats, but always
        outward (min down, max up), so a recorded range is a superset
        of the true one and pruning on it can never drop a matching
        file."""
        run_dir = self._run_dir()
        stats: dict[str, dict] = {}
        for r in self._scan_footers():
            ent = {"rows": r["rows"]}
            if r["conv_min"] is not None and r["conv_max"] is not None:
                ent["conv_min"], ent["conv_max"] = r["conv_min"], r["conv_max"]
            if r["ts_min"] is not None and r["ts_max"] is not None:
                ent["ts_min"], ent["ts_max"] = r["ts_min"], r["ts_max"]
            if len(ent) > 1:
                stats[r["rel"]] = ent
        if stats:
            _atomic_write_json(
                os.path.join(run_dir, "_filestats.json"), stats)

    def _file_stats(self, run_id: str) -> dict[str, dict] | None:
        p = os.path.join(self.out_dir, "runs", run_id, "_filestats.json")
        if not os.path.isfile(p):
            return None  # pre-stats run: dir-granularity reads still work
        with open(p, encoding="utf-8") as f:
            return json.load(f)

    def _run_files(self, run_id: str, buckets=None) -> list[str]:
        """Run-relative paths of run ``run_id``'s parquet files. With
        ``buckets``, only those buckets' partition dirs are listed: a
        pruned read lists k directories, not every file the run wrote
        (1,315 files at sf10). A bucket with no dir holds no rows."""
        base = os.path.join(self.out_dir, "runs", run_id)
        tops = [base] if buckets is None else [
            os.path.join(base, f"bucket={b}") for b in sorted(set(buckets))]
        rels = []
        for top in tops:
            for root, _, files in os.walk(top):
                rels.extend(os.path.relpath(os.path.join(root, f), base)
                            for f in files if f.endswith(".parquet"))
        return rels

    def commit(self, lineage: dict[int, dict], extra: dict | None = None,
               n_buckets: int | None = None,
               expected_runs: dict[int, str] | None = None,
               replace_all: bool = False) -> None:
        """Atomically publish buckets (the Iceberg-snapshot stand-in).

        ``n_buckets`` pins the TOTAL bucket-space size in the manifest
        on first commit: bucket ids are only meaningful modulo the
        count that produced them, so a later commit (resume, append)
        under a different count would silently scatter each
        conversation across unrelated bucket ids. Mismatches raise
        here instead (the table-format analogue: Iceberg stores the
        bucket transform's N in the partition spec and never lets two
        specs share ids). The ONE sanctioned way to change the count
        is ``replace_all=True`` (used by :meth:`rebucket`): the commit
        then REPLACES the entire bucket map with ``lineage`` and
        re-pins ``n_buckets`` — partition evolution as a full-rewrite
        snapshot, after which no pre-rebucket bucket id survives in
        the live mapping. Such commits must pass ``expected_runs``
        covering every bucket they are replacing.

        Concurrency: the manifest read-modify-write runs under the
        commit lock (``_commit_lock``, the catalog-CAS stand-in) so
        interleaved commits can never lose each other's buckets. A
        REWRITE commit (compact/delete/merge/rebucket) additionally
        passes ``expected_runs`` — the {bucket: (base run, delta run)}
        layers it READ (a bare run id means "no delta") — and the
        commit raises :class:`CommitConflict` if any of those buckets
        was repointed since (its rewrite is based on stale data), the
        exact optimistic validation Iceberg applies to concurrent
        snapshots. Append commits of fresh buckets need no
        expectation: the lock alone makes them serializable.

        A ``lineage`` entry may name its own ``run_id`` (default: this
        run) and a ``delta_run_id`` with ``delta_sinks`` — how a merge
        publishes a layered bucket. The snapshot's history entry then
        records those entries under ``layers``: base footers include
        superseded rows, so time travel and rollback take a layered
        bucket's live counts from there."""
        if replace_all and expected_runs is None:
            raise ValueError(
                "replace_all commits rewrite the whole table and must "
                "pass expected_runs for every bucket they replace"
            )
        if self.fmt != "iceberg" and os.path.isdir(self._run_dir()):
            # the sidecars are part of the commit payload (Iceberg writes
            # column bounds and the schema into its metadata the same
            # way) — emitted before the lock: they only touch this
            # run's own dir
            self._write_file_stats()
            self._write_run_meta()
        with _commit_lock(self.out_dir):
            manifest = load_manifest(self.out_dir)
            if expected_runs is not None:
                got_layers = {
                    b: _layer(manifest["buckets"].get(str(b)))
                    for b in expected_runs
                }
                stale = {
                    b: (exp, got_layers[b])
                    for b, exp in expected_runs.items()
                    if got_layers[b] != (
                        exp if isinstance(exp, tuple) else (exp, None))
                }
                if stale:
                    raise CommitConflict(
                        f"bucket(s) {sorted(stale)} were repointed by another "
                        f"commit after this rewrite read them "
                        f"({ {b: f'{e} -> {g}' for b, (e, g) in stale.items()} }) "
                        "— manifest left untouched; re-read and retry"
                    )
            if n_buckets is not None:
                prev = manifest.get("n_buckets")
                if (not replace_all and prev is not None
                        and int(prev) != int(n_buckets)):
                    raise ValueError(
                        f"commit with n_buckets={n_buckets} but {self.out_dir} "
                        f"was committed under n_buckets={prev}; bucket ids are "
                        "not comparable across counts — resume with the "
                        "recorded count (buckets='auto' does this), or evolve "
                        "the bucket space explicitly with rebucket()"
                    )
                manifest["n_buckets"] = int(n_buckets)
            if replace_all:
                # partition evolution: the old bucket ids (mod the old
                # count) stop existing; the new lineage IS the table
                manifest["buckets"] = {}
            layered: dict[str, dict] = {}
            for b, entry in lineage.items():
                meta = {
                    "run_id": entry.get("run_id", self.run_id),
                    "rows": entry["rows"],
                    "sinks": entry["sinks"],
                }
                if entry.get("delta_run_id"):
                    meta["delta_run_id"] = entry["delta_run_id"]
                    meta["delta_sinks"] = entry["delta_sinks"]
                    layered[str(b)] = meta
                manifest["buckets"][str(b)] = meta
            entry = {
                "run_id": self.run_id,
                "committed_buckets": sorted(int(b) for b in lineage),
                "wall_time": time.time(),
                **(extra or {}),
            }
            if layered:
                entry["layers"] = layered
            if replace_all:
                entry["replaces_all"] = True
            if n_buckets is not None:
                # per-snapshot record of the bucket-space size so
                # time-travel reads hash under the count in effect AT
                # that snapshot (see _n_buckets_as_of)
                entry["n_buckets"] = int(n_buckets)
            manifest["history"].append(entry)
            _atomic_write_json(_manifest_path(self.out_dir), manifest)

    # -- read side -----------------------------------------------------

    def snapshots(self) -> list[dict]:
        """The table's snapshot log — the manifest analogue of Iceberg's
        ``.snapshots`` metadata table. One entry per COMMIT in history
        order (cardinality/maintenance notes are not snapshots), each
        with its 0-based ``snapshot_id``, the committing ``run_id``,
        the buckets it (re)published, its wall time, and the
        ``compaction_of`` provenance when the commit was a rewrite."""
        out = []
        for h in load_manifest(self.out_dir)["history"]:
            if "committed_buckets" not in h:
                continue
            out.append({"snapshot_id": len(out), **h})
        return out

    def _layers_as_of(self, as_of: int) -> dict[int, dict]:
        """Reconstruct the bucket -> layers mapping as of snapshot
        ``as_of`` by replaying the commit log — each commit repoints
        its buckets at its run (or, for a merge's layered buckets, at
        the (base, delta) entry its ``layers`` record holds), exactly
        how the live ``buckets`` map is built."""
        snaps = self.snapshots()
        if not (0 <= as_of < len(snaps)):
            raise IndexError(
                f"snapshot {as_of} out of range: {self.out_dir} has "
                f"{len(snaps)} snapshot(s)"
            )

        def owner_as_of(i: int) -> dict[int, dict]:
            owner: dict[int, dict] = {}
            for h in snaps[: i + 1]:
                if "rollback_to" in h:
                    # a rollback REPLACES the live mapping with the
                    # target's (buckets first committed after the target
                    # drop out); its own run_id never owns data
                    owner = owner_as_of(int(h["rollback_to"]))
                else:
                    if h.get("replaces_all"):
                        # rebucket: bucket ids changed meaning (new mod
                        # count) — no pre-rebucket owner survives
                        owner = {}
                    layers = h.get("layers") or {}
                    for b in h["committed_buckets"]:
                        owner[int(b)] = layers.get(str(b)) or {
                            "run_id": h["run_id"]}
            return owner

        return owner_as_of(as_of)

    def _plan_layers(self, as_of: int | None
                     ) -> tuple[dict[int, dict], dict[str, list[int]]]:
        """(bucket -> layers, run -> buckets) of the live table or of
        snapshot ``as_of``. Raises if the live table is empty, or if
        the snapshot references a run directory that no longer exists
        (vacuumed — the ``expire_snapshots`` analogue: time travel only
        reaches snapshots whose data files still exist)."""
        if as_of is None:
            layers = {int(b): m for b, m in
                      load_manifest(self.out_dir)["buckets"].items()}
            if not layers:
                raise FileNotFoundError(
                    f"no committed buckets under {self.out_dir}")
            return layers, _by_run(layers)
        layers = self._layers_as_of(as_of)
        by_run = _by_run(layers)
        gone = [
            r for r in by_run
            if not os.path.isdir(os.path.join(self.out_dir, "runs", r))
        ]
        if gone:
            raise FileNotFoundError(
                f"snapshot {as_of} references vacuumed run(s) {sorted(gone)} "
                "— expired snapshots are unreadable (vacuum is the "
                "expire_snapshots analogue); read a newer snapshot"
            )
        return layers, by_run

    def _buckets_as_of(self, as_of: int) -> dict[str, list[int]]:
        """The runs (bases and deltas) holding snapshot ``as_of``'s
        buckets; see :meth:`_plan_layers`."""
        return self._plan_layers(as_of)[1]

    def _n_buckets_as_of(self, as_of: int | None) -> int | None:
        """The bucket-space size in effect AT snapshot ``as_of`` (the
        live pin when None): after a rebucket the live count addresses
        the live layout only. Snapshots since the per-entry
        ``n_buckets`` record carry it directly (latest entry at or
        before ``as_of`` wins — a rollback entry re-records the
        target's count). Older histories fall back: if a LATER
        rebucket exists, the count before it is that entry's
        ``rebucket_from``; otherwise the live pin applies unchanged."""
        if as_of is not None:
            snaps = self.snapshots()
            for h in reversed(snaps[: as_of + 1]):
                if "n_buckets" in h:
                    return int(h["n_buckets"])
            for h in snaps[as_of + 1:]:
                if "rebucket_from" in h:
                    return (int(h["rebucket_from"])
                            if h["rebucket_from"] is not None else None)
        nb = load_manifest(self.out_dir).get("n_buckets")
        return int(nb) if nb is not None else None

    def _committed_by_run(self) -> dict[str, list[int]]:
        """Committed buckets grouped by the runs holding their rows
        (base runs and delta runs)."""
        return self._plan_layers(None)[1]

    def _lookup_runs(self, layers: dict[int, dict],
                     ids_by_bucket: dict[int, list[str]]
                     ) -> dict[str, list[int]]:
        """The runs a lookup of these ids must plan: each id resolves,
        on the driver, to the ONE layer holding its live rows — the
        delta if the id is in D(b), else the base — so a single-id
        lookup still plans one run. Buckets no run holds are absent."""
        out: dict[str, list[int]] = {}
        for b, ids in ids_by_bucket.items():
            meta = layers.get(b)
            if meta is None:
                continue
            base, delta = _layer(meta)
            sup = set(self._superseded_ids(delta, b))
            for run_id in {delta if c in sup else base for c in ids}:
                out.setdefault(run_id, []).append(b)
        return out

    def _superseded(self, by_run: dict[str, list[int]]) -> dict[str, list[str]]:
        """Per run, the conv ids whose rows it must NOT serve: where
        ``by_run`` plans both layers of a bucket, the base drops D(b),
        which the delta's sidecar lists. A conv id hashes to one
        bucket, so the union of a base run's D(b) over its planned
        buckets is an exact filter for every one of them."""
        holders: dict[int, list[str]] = {}
        for run_id, bs in by_run.items():
            for b in set(bs):
                holders.setdefault(b, []).append(run_id)
        out: dict[str, set[str]] = {}
        for b, runs in holders.items():
            if len(runs) < 2:
                continue
            for run_id in runs:
                sup = self._superseded_ids(run_id, b)
                if sup:
                    for other in runs:
                        if other != run_id:
                            out.setdefault(other, set()).update(sup)
        return {r: sorted(ids) for r, ids in out.items()}

    def _read_committed(self, spark: SparkSession,
                        by_run: dict[str, list[int]] | None = None,
                        file_sel: dict[str, list[str]] | None = None,
                        tag: str | None = None) -> DataFrame:
        """Union the committed buckets across runs (uncommitted runs
        are invisible, like reading an Iceberg snapshot). Cross-run
        schemas can legitimately differ — write_classified's column
        list varies with which enrichment dictionaries were supplied —
        so the union is allowMissingColumns (absent columns read as
        null), the same answer a table format's schema evolution
        gives. Each run is read under the schema its ``_run.json``
        recorded, so planning runs no schema-inference job; older runs
        fall back to inference.

        Where ``by_run`` plans both layers of a bucket, the base is
        filtered with ``~conv_id IN D(b)`` (:meth:`_superseded`): the
        merge-on-read step.

        ``file_sel`` narrows a run below directory granularity: for a
        run_id present in it, ONLY those run-relative parquet paths are
        planned (:meth:`_pruned_read` derives them from the
        ``_filestats.json`` bounds). An empty list means no file in the
        run can match: the run is skipped outright. ``tag`` names a column
        that carries each row's run id."""
        from pyspark.sql.types import StructType

        by_run = by_run if by_run is not None else self._committed_by_run()
        file_sel = file_sel or {}
        drop = self._superseded(by_run)
        frames = []
        for run_id, bs in sorted(by_run.items()):
            base = os.path.join(self.out_dir, "runs", run_id)
            if run_id in file_sel:
                rels = file_sel[run_id]
                if not rels:
                    continue
                paths = [os.path.join(base, r) for r in sorted(rels)]
            else:
                # list ONLY the selected buckets' partition dirs, not
                # the whole run: a point lookup or k-conv delete then
                # plans over k directories instead of listing every
                # file the run ever wrote (measured 1,315 files at sf10
                # — the listing itself must prune, not just the scan).
                # basePath keeps bucket + sink_id as partition columns.
                # A missing dir is a bucket that legitimately holds no
                # rows (emptied by a delete, or never produced):
                # skipped — parquet cannot infer a schema from nothing,
                # and such buckets contribute no rows by definition.
                avail = {
                    d for d in os.listdir(base) if d.startswith("bucket=")
                } if os.path.isdir(base) else set()
                sel = {f"bucket={b}" for b in bs} & avail
                if not sel:
                    continue
                # whole-run read: one root path plans faster than
                # hundreds of explicit dirs
                paths = [base] if sel == avail else \
                    [os.path.join(base, d) for d in sorted(sel)]
            reader = spark.read.option("basePath", base)
            schema = self._run_meta(run_id).get("schema")
            if schema is not None:
                reader = reader.schema(StructType.fromJson(schema))
            df = reader.parquet(*paths).filter(F.col("bucket").isin(bs))
            if drop.get(run_id):
                df = df.filter(_conv_not_in(drop[run_id]))
            if tag is not None:
                df = df.withColumn(tag, F.lit(run_id))
            frames.append(df)
        if not frames:
            raise FileNotFoundError(
                f"no data files under any committed run of {self.out_dir} "
                "(every committed bucket is empty — e.g. fully deleted)"
            )
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_, allowMissingColumns=True)
        return out

    def read_routed(self, spark: SparkSession, as_of: int | None = None,
                    with_ignored: bool = False) -> DataFrame:
        """Read committed routed rows — uncommitted runs are invisible,
        like reading an Iceberg snapshot. The ignored sink is excluded
        by partition pruning unless ``with_ignored``; count_key is
        re-derived (== rendered for count rules) so readers see the
        full MATCH_COLUMNS shape.

        ``as_of`` time-travels to an earlier snapshot id (see
        :meth:`snapshots` — the ``VERSION AS OF`` analogue): the read
        plans over the bucket -> run mapping as of that commit, so
        later appends, resumes and compactions are invisible. Expired
        (vacuumed) snapshots raise instead of silently under-reading."""
        out = self._read_committed(spark, self._plan_layers(as_of)[1])
        if not with_ignored:
            out = out.filter(F.col("sink_id") != "ignored")
        if "count_key" in out.columns and "action" in out.columns:
            # written count_key is sum-rules-only (write path nulls the
            # rest); count keys re-derive from the payload
            out = out.withColumn(
                "count_key",
                F.coalesce(
                    F.col("count_key"),
                    F.when(F.col("action") == "count", F.col("rendered")),
                ).cast("string"),
            )
        elif "action" in out.columns:
            out = out.withColumn(
                "count_key",
                F.when(F.col("action") == "count", F.col("rendered")).cast("string"),
            )
        return out

    def changes(self, spark: SparkSession, since: int,
                until: int | None = None) -> DataFrame:
        """The change feed (Delta's Change Data Feed, Iceberg's
        ``create_changelog_view``): the row changes of snapshots
        ``since+1 .. until``, as the table's columns plus
        ``_change_type`` ("insert" or "delete") and ``_snapshot_id``.
        Applying them in order to the table as of ``since`` gives the
        table as of ``until``. ``since = -1`` reads from the
        beginning. Per kind of snapshot:

        - **Append:** its buckets' rows, all inserts.
        - **Compaction, rebucket:** no rows (a rewrite changes none).
        - **Merge:** its run's ``_run.json`` records the batch's conv
          ids (``keys``). The deletes are those ids' rows as of the
          snapshot before, the inserts their rows as of the merge: the
          one id read lookups use (:meth:`_read_ids`). The batch's
          null-id rows supersede nothing, so the ids cannot find them;
          the sidecar names their buckets (``null_buckets``), and the
          null-id rows of those buckets are deleted as of the snapshot
          before and inserted as of the merge. A null-id row the merge
          carried forward so shows as a delete plus an insert, which
          cancel out.
        - **Delete:** the deleted ids' rows as of the snapshot before,
          all deletes.
        - **Rollback:** raises ``ValueError``; re-read the table.

        A merge or delete snapshot whose sidecar has no ``keys``
        (written before the feed existed) raises ``ValueError`` too. A
        range reaching a vacuumed run raises ``FileNotFoundError``,
        like any expired snapshot read."""
        snaps = self.snapshots()
        until = len(snaps) - 1 if until is None else until
        if not (-1 <= since <= until < len(snaps)):
            raise IndexError(
                f"bad snapshot range since={since} until={until}: "
                f"{self.out_dir} has {len(snaps)} snapshot(s)"
            )
        parts: list[tuple[int, str, DataFrame]] = []
        for h in snaps[since + 1: until + 1]:
            i = h["snapshot_id"]
            if "rollback_to" in h:
                raise ValueError(
                    f"snapshot {i} is a rollback, a row-level modification "
                    "the change feed does not express — consume changes up "
                    "to it, then re-read the table"
                )
            if "compaction_of" in h or h.get("replaces_all"):
                continue
            if not os.path.isdir(
                    os.path.join(self.out_dir, "runs", h["run_id"])):
                raise FileNotFoundError(
                    f"snapshot {i} references vacuumed run {h['run_id']} "
                    "— expired snapshots are unreadable"
                )
            if "merge_of" not in h and "delete_of" not in h:
                parts.append((i, "insert", self._pruned_read(
                    spark, {h["run_id"]: [int(b) for b in
                                          h["committed_buckets"]]},
                    lambda st: True)))
                continue
            meta = self._run_meta(h["run_id"])
            if "keys" not in meta:
                raise ValueError(
                    f"snapshot {i} is a row-level modification written "
                    "without change keys — re-read the table"
                )
            if i > 0:
                parts += [(i, "delete", df)
                          for df in self._keyed_rows(spark, meta, i - 1)]
            if "merge_of" in h:
                parts += [(i, "insert", df)
                          for df in self._keyed_rows(spark, meta, i)]
        if not parts:
            # empty feed: schema-only frame from the live table
            parts = [(-1, "insert",
                      self._read_committed(spark).filter(F.lit(False)))]
        out = None
        for i, kind, df in parts:
            df = df.withColumn("_change_type", F.lit(kind)) \
                .withColumn("_snapshot_id", F.lit(i).cast("long"))
            out = df if out is None else \
                out.unionByName(df, allowMissingColumns=True)
        tags = ["_change_type", "_snapshot_id"]
        return out.select(*[c for c in out.columns if c not in tags], *tags)

    def _keyed_rows(self, spark: SparkSession, meta: dict,
                    as_of: int) -> list[DataFrame]:
        """The rows live at snapshot ``as_of`` under a merge's or
        delete's change keys (see :meth:`changes`): the ids' rows, and
        the null-id rows of the named buckets."""
        out = []
        if meta["keys"]:
            out.append(self._read_ids(spark, meta["keys"], as_of))
        if meta.get("null_buckets"):
            layers = self._plan_layers(as_of)[0]
            held = {b: layers[b] for b in meta["null_buckets"] if b in layers}
            if held:
                out.append(self._pruned_read(spark, _by_run(held),
                                             lambda st: True)
                           .filter(F.col("conv_id").isNull()))
        return out

    def read_conversation(self, spark: SparkSession, conv_id: str,
                          as_of: int | None = None) -> DataFrame:
        """Point lookup of ONE conversation across all sinks — the
        operational read a routed log store actually serves ("show me
        everything conversation X produced") — touching 1/n_buckets of
        the table instead of scanning it: the id's bucket, the ONE run
        holding its live rows there (the bucket's delta run if an
        upsert superseded it, else its base run), and within that run
        only the files whose conv_id bounds contain it. The files are
        (conv_id, turn_idx)-sorted, so the residual ``conv_id``
        predicate then prunes row groups via column stats. At 100 TB /
        1024 buckets a lookup plans over ~0.1% of the files and reads
        a few row groups. See :meth:`_read_ids`.

        ``as_of`` time-travels the lookup to an earlier snapshot — the
        audit read ("what did conversation X look like before that
        delete/merge?"), same semantics and expiry behavior as
        :meth:`read_routed`."""
        return self._read_ids(spark, [conv_id], as_of)

    def read_conversations(self, spark: SparkSession, conv_ids: list[str],
                           as_of: int | None = None) -> DataFrame:
        """Batch point lookup: every routed row of the named
        conversations, across all sinks — the GDPR-export / audit read
        ("give me everything these users' conversations produced").
        The ids hash to at most len(ids) buckets, so at 1024 buckets an
        export of a handful of conversations plans ~0.1% of the
        table's files. Duplicate ids collapse; ``as_of`` time-travels.
        See :meth:`_read_ids`."""
        if not conv_ids:
            raise ValueError("read_conversations needs at least one conv_id")
        return self._read_ids(spark, conv_ids, as_of)

    def _read_ids(self, spark: SparkSession, conv_ids,
                  as_of: int | None) -> DataFrame:
        """The one id read: the ids hash to their buckets under the
        bucket count in effect at the snapshot read
        (:func:`_bucket_ids`), each id resolves on the driver to the
        layer holding its live rows (:meth:`_lookup_runs`), and the
        pruner plans only the files whose conv_id bounds contain an id.
        A table without the ``n_buckets`` pin plans every run; the
        ``conv_id`` predicate still prunes, so correctness never
        depends on the pin."""
        ids = sorted(set(conv_ids))
        layers, by_run = self._plan_layers(as_of)
        nb = self._n_buckets_as_of(as_of)
        if nb:
            # ids only in buckets no run holds: plan every run over no
            # bucket, so the empty result keeps the table's columns
            by_run = self._lookup_runs(
                layers, _bucket_ids(ids, nb)) or {r: [] for r in by_run}

        def keep(st: dict) -> bool:
            if "conv_min" not in st:
                return True
            i = bisect.bisect_left(ids, st["conv_min"])
            return i < len(ids) and ids[i] <= st["conv_max"]

        return self._pruned_read(spark, by_run, keep).filter(_conv_in(ids))

    def _pruned_read(self, spark: SparkSession, by_run: dict[str, list[int]],
                     keep) -> DataFrame:
        """The one file pruner behind the id and time-range reads. Per
        planned run it lists only the planned buckets' dirs and plans
        the files whose commit-time ``_filestats.json`` entry passes
        ``keep`` (Iceberg's manifest column-bounds pruning); a file
        with no recorded entry, or a run with no sidecar, stays
        planned. A run left with no file is skipped but stays in
        ``by_run``, so a base planned beside its delta still drops
        D(b).

        Where nothing can match — every bound excludes the predicate,
        the planned buckets hold no file (a delete emptied them), or
        no bucket was planned — the read is an empty frame with the
        columns a planned run's ``_run.json`` recorded: typed nulls
        under a false filter, which Catalyst folds to an empty
        relation, so planning runs no job and counting it runs one JVM
        job and no Python RDD. Runs written before that record infer
        the columns from one run's files."""
        from pyspark.sql.types import StructType

        file_sel: dict[str, list[str]] = {}
        for run_id, bs in by_run.items():
            rels = self._run_files(run_id, bs)
            stats = (self._file_stats(run_id) or {}) if rels else {}
            sel = [r for r in rels if r not in stats or keep(stats[r])]
            if len(sel) < len(rels) or not sel:
                file_sel[run_id] = sel
        if any(file_sel.get(r, True) for r in by_run):
            return self._read_committed(spark, by_run, file_sel=file_sel)
        for run_id in by_run:
            schema = self._run_meta(run_id).get("schema")
            if schema is not None:
                fields = StructType.fromJson(schema).fields
                # a parquet read lists the partition columns last
                return spark.range(1).select(*[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in sorted(fields, key=lambda f: f.name in (
                        "bucket", "sink_id"))]).filter(F.lit(False))
        base = os.path.join(self.out_dir, "runs", min(by_run))
        return spark.read.option("basePath", base).parquet(base) \
            .filter(F.lit(False))

    # core data-file columns every writer in this repo emits (bucket +
    # sink_id are partition DIRECTORIES, not file columns)
    REQUIRED_FILE_COLUMNS = ("conv_id", "turn_idx", "role", "ts",
                             "rule_id", "rule_name", "action", "rendered")
    # legitimately present-or-absent: enrichment lands only when
    # dictionaries were supplied; count_key only for sum-bearing rule
    # sets (cross-run schema evolution reads absent columns as null)
    OPTIONAL_FILE_COLUMNS = ("count_key", "role_class", "weight",
                             "tool_family", "is_privileged")

    def validate_schema(self, require_count_key: bool = False) -> dict:
        """Read-time schema CONTRACT check against the static
        rule-derived output shape — the §1.2 claim made checkable.
        EVERY committed data file's footer — base and delta runs — is
        read (metadata-only, no
        data scan — a single foreign/corrupt file is exactly what this
        must catch, so per-run sampling would be a false guarantee;
        the O(files) footer walk is the same cost class as the lineage
        walk every commit already pays). Catches foreign files, wrong
        writers, and silent column drift BEFORE a reader plans a scan.
        ``require_count_key=True`` (sum-bearing rule sets) promotes
        count_key to required. Returns {"ok": bool, "runs": {run_id:
        {"missing": [...], "unexpected": [...]}}} — violations are the
        UNION over a run's files, only violating runs listed."""
        import pyarrow.parquet as pq

        required = set(self.REQUIRED_FILE_COLUMNS)
        if require_count_key:
            required.add("count_key")
        allowed = required | set(self.OPTIONAL_FILE_COLUMNS)
        out: dict[str, dict] = {}
        for run_id in self._committed_by_run():
            base = os.path.join(self.out_dir, "runs", run_id)
            missing: set[str] = set()
            unexpected: set[str] = set()
            for rel in self._run_files(run_id):
                names = set(pq.read_schema(os.path.join(base, rel)).names)
                missing |= required - names
                unexpected |= names - allowed
            if missing or unexpected:
                out[run_id] = {"missing": sorted(missing),
                               "unexpected": sorted(unexpected)}
        return {"ok": not out, "runs": out}

    def read_time_range(self, spark: SparkSession, lo, hi,
                        as_of: int | None = None) -> DataFrame:
        """Event-time range read ``lo <= ts < hi`` with FILE-level
        skipping from the ``_filestats.json`` ts bounds — the Iceberg
        scan-planning analogue of pruning data files on column
        min/max before any task is scheduled.

        Where the skipping bites at 100 TB: file bounds are only as
        narrow as the layout's time clustering, exactly like Iceberg.
        Files here are (conv_id, turn_idx)-sorted and compaction rolls
        each (bucket, sink) into conv-contiguous files — so when
        conversation ids are time-ordered (ULID/snowflake-style ids,
        the common production scheme, where a conversation's id prefix
        encodes its start time), every compacted file covers a narrow
        event-time band and a time-range read plans a small fraction
        of the table's files (pinned by tests/test_time_skipping.py).
        With time-random ids the bounds are wide and this degrades
        gracefully to a full plan — never a wrong one: parquet may
        truncate stats only outward, so a recorded range is a superset
        of the truth and skipping can never drop a matching row. The
        residual ``ts`` predicate then cuts row groups via the same
        footer stats at scan time.

        Files without recorded ts bounds and runs that predate the
        sidecar stay planned (never silently unprunable-and-skipped);
        ``as_of`` time-travels the range read like
        :meth:`read_routed`."""
        lo_dt, hi_dt = _parse_ts_bound(lo), _parse_ts_bound(hi)
        if not lo_dt < hi_dt:
            raise ValueError(f"empty time range: {lo!r} .. {hi!r}")

        def keep(st: dict) -> bool:
            return "ts_min" not in st or (
                _parse_ts_bound(st["ts_max"]) >= lo_dt
                and _parse_ts_bound(st["ts_min"]) < hi_dt)

        df = self._pruned_read(spark, self._plan_layers(as_of)[1], keep)
        ts_type = dict(df.dtypes)["ts"]
        lo_lit = F.lit(lo_dt.isoformat(sep=" ")).cast(ts_type)
        hi_lit = F.lit(hi_dt.isoformat(sep=" ")).cast(ts_type)
        return df.filter((F.col("ts") >= lo_lit) & (F.col("ts") < hi_lit))

    def rollback(self, to_snapshot: int) -> dict:
        """Repoint the LIVE table to an earlier snapshot's bucket -> run
        mapping — the ``rollback_to_snapshot`` analogue, and the undo
        for a bad append/compaction/delete/merge. A PURE manifest
        operation: no data moves; it works exactly while the target
        snapshot's runs still exist (un-vacuumed — expired targets
        raise, same as time-travel reads). The rollback itself is a new
        snapshot on the log (Iceberg semantics: history is append-only;
        rolling back never erases the rolled-back commits), so it is
        itself rollback-able. Buckets first committed AFTER the target
        snapshot are dropped from the live mapping (they did not exist
        then); their runs become vacuum-collectable once unreferenced.

        Note the interplay with GDPR deletes: rolling back across a
        ``delete_of`` snapshot RESURRECTS the deleted conversations —
        by design (the delete's erasure point is vacuum, not the
        snapshot); re-apply the delete after rolling back.

        Returns {"snapshot": new_id, "buckets": n_live_buckets}."""
        # validates + expiry check
        layers, _ = self._plan_layers(int(to_snapshot))
        with _commit_lock(self.out_dir):
            manifest = load_manifest(self.out_dir)
            # rebuild the buckets map as of the target. A layered
            # bucket's entry (live counts included) is recorded in its
            # merge's history entry — its base footers also count the
            # superseded rows. Other buckets' rows/sinks are not stored
            # in history, so recover them from the target runs' parquet
            # footers (immutable since their commit — the counts ARE
            # the original lineage)
            counts: dict[str, dict] = {}
            footers: dict[str, dict] = {}
            for b, meta in layers.items():
                if meta.get("delta_run_id"):
                    counts[str(b)] = dict(meta)
                    continue
                run_id = meta["run_id"]
                if run_id not in footers:
                    footers[run_id] = SinkSet(
                        out_dir=self.out_dir,
                        run_id=run_id)._lineage_from_footers()
                got = footers[run_id].get(int(b), {"rows": 0, "sinks": {}})
                counts[str(b)] = {"run_id": run_id, "rows": got["rows"],
                                  "sinks": got["sinks"]}
            manifest["buckets"] = counts
            entry = {
                "run_id": self.run_id,
                "committed_buckets": sorted(int(b) for b in counts),
                "rollback_to": int(to_snapshot),
                "wall_time": time.time(),
            }
            # rolling back across a rebucket restores the bucket-space
            # size the target snapshot hashed under (and re-records it
            # so later as-of replays see it on this entry)
            nb_target = self._n_buckets_as_of(int(to_snapshot))
            if nb_target is not None:
                manifest["n_buckets"] = int(nb_target)
                entry["n_buckets"] = int(nb_target)
            manifest["history"].append(entry)
            _atomic_write_json(_manifest_path(self.out_dir), manifest)
        return {"snapshot": len(self.snapshots()) - 1,
                "buckets": len(counts)}

    def compute_sink_cardinality(self, spark: SparkSession,
                                 record: bool = True) -> dict[str, int]:
        """EXACT distinct-conversation count per sink over the whole
        committed table, computed on demand at reporting time — the
        default replacement for the opt-in write-time HLL Observation
        (see module docstring for the trade).

        Cost shape at 100 TB: the scan reads exactly ONE data column
        (``conv_id``, dictionary-encoded) — ``sink_id`` and ``bucket``
        are partition directories, satisfied from file paths — and the
        distinct collapses map-side per (sink, conv) before one
        shuffle. Paid once per report over all commits since, not per
        row per write. With ``record=True`` the result is appended to
        the manifest history (kind='exact' rows in
        :meth:`sink_cardinality_df`)."""
        counts = {
            str(r["sink_id"]): int(r["n"])
            for r in self._read_committed(spark)
            .select("sink_id", "conv_id")
            .groupBy("sink_id")
            .agg(F.countDistinct("conv_id").alias("n"))
            .collect()
        }
        if record:
            with _commit_lock(self.out_dir):
                manifest = load_manifest(self.out_dir)
                manifest["history"].append({
                    "run_id": self.run_id,
                    "op": "cardinality",
                    "wall_time": time.time(),
                    "convs_exact": counts,
                })
                _atomic_write_json(_manifest_path(self.out_dir), manifest)
        return counts

    # -- row-level operations (Iceberg DELETE FROM copy-on-write and
    #    MERGE INTO merge-on-read stand-ins) -----------------------------

    def delete_conversations(self, spark: SparkSession,
                             conv_ids: list[str]) -> dict:
        """Row-level DELETE of whole conversations — the copy-on-write
        ``DELETE FROM routed WHERE conv_id IN (...)`` analogue, and the
        right-to-be-forgotten path a training-data store must serve.

        Cost shape at 100 TB: the ids hash to at most ``len(conv_ids)``
        buckets, so with 1024 buckets deleting a handful of
        conversations plans over ~0.1% of the table's files — two
        partition-pruned passes (a per-(bucket, sink) count of the
        doomed rows, then the rewrite of only the buckets that actually
        matched) and never a full scan. Buckets with no matching rows
        keep their current run untouched.

        Safety mirrors compact(): the surviving rows land in a NEW run
        dir (a bucket an upsert layered is folded: base and delta
        become one base run); the manifest swap happens only after the
        new files' footer counts equal the committed lineage minus the
        matched counts, per (bucket, sink), exactly. A crash mid-delete leaves the old
        manifest intact and an unreferenced run dir for ``vacuum``.
        Time travel to a pre-delete snapshot still reads the deleted
        rows (Iceberg semantics: a delete is a new snapshot, not an
        erasure). PHYSICAL erasure — the compliance point — needs the
        old run dirs gone: a run stays on disk while ANY bucket still
        references it, so rewrite its remaining buckets (e.g.
        ``compact(min_files_per_partition=1)``) and then ``vacuum`` —
        the exact rewrite_data_files + expire_snapshots sequence GDPR
        deletion takes on Iceberg. Note the SOURCE table is upstream of this
        store: re-running ingest over an unredacted source re-inserts
        the conversation, same as any table format.

        On the Iceberg branch use the native ``DELETE FROM`` (position/
        equality deletes + rewrite_data_files own this there).

        Returns {"rewritten_buckets": [...], "rows_deleted": n}.
        """
        if self.fmt == "iceberg":
            raise RuntimeError(
                "delete_conversations() is the parquet-manifest stand-in; "
                "on the Iceberg branch run the native DELETE FROM — the "
                "table format owns row-level deletes there"
            )
        conv_ids = list(dict.fromkeys(conv_ids))
        manifest = load_manifest(self.out_dir)
        if not manifest["buckets"]:
            raise FileNotFoundError(f"no committed buckets under {self.out_dir}")
        if not conv_ids:
            return {"rewritten_buckets": [], "rows_deleted": 0}

        # only buckets that are committed AND non-empty can hold rows
        committed = {
            int(b) for b, m in manifest["buckets"].items() if m["rows"]
        }
        # a table without the n_buckets pin rewrites every bucket
        nb = manifest.get("n_buckets")
        affected = sorted(committed & set(_bucket_ids(conv_ids, nb))) \
            if nb else sorted(committed)
        if not affected:
            return {"rewritten_buckets": [], "rows_deleted": 0}
        bucket_meta = {b: manifest["buckets"][str(b)] for b in affected}

        # pass 1 (pruned): exact per-(bucket, sink) counts of the doomed
        # rows — both the rewrite list and the conservation target
        cond = _conv_in(conv_ids)
        matched = {
            (int(r["bucket"]), str(r["sink_id"])): int(r["n"])
            for r in self._read_committed(spark, _by_run(bucket_meta))
            .filter(cond)
            .groupBy("bucket", "sink_id").agg(F.count("*").alias("n"))
            .collect()
        }
        if not matched:
            return {"rewritten_buckets": [], "rows_deleted": 0}
        hit = sorted({b for b, _ in matched})

        # pass 2 (pruned): rewrite ONLY the matched buckets' live rows
        # without the doomed ones — same plan shape as compaction (one
        # exchange on the existing bucket column, writer ordering
        # pre-satisfied); a layered bucket folds to one base run
        rewriter = SinkSet(out_dir=self.out_dir, fmt=self.fmt)
        rewriter._write_run(
            self._read_committed(
                spark, _by_run({b: bucket_meta[b] for b in hit}))
            .filter(_conv_not_in(conv_ids))
            .repartition(len(hit), "bucket")
            .sortWithinPartitions("bucket", "sink_id", "conv_id", "turn_idx")
        )
        # a rewrite that emptied every bucket writes no files at all;
        # the run dir must still exist for snapshot bookkeeping
        os.makedirs(rewriter._run_dir(), exist_ok=True)

        new_lineage = rewriter._lineage_from_footers()
        for b in hit:
            old = manifest["buckets"][str(b)]
            exp = {
                s: n - matched.get((b, s), 0) for s, n in old["sinks"].items()
            }
            exp = {s: n for s, n in exp.items() if n}
            got = new_lineage.setdefault(b, {"rows": 0, "sinks": {}})
            if got["sinks"] != exp or got["rows"] != sum(exp.values()):
                raise RuntimeError(
                    f"delete conservation violated for bucket {b}: expected "
                    f"{exp!r} surviving rows, rewrite produced {got!r} — "
                    "manifest left untouched"
                )
        rows_deleted = sum(matched.values())
        rewriter._change_keys = {"keys": sorted(conv_ids)}
        rewriter.commit(new_lineage, extra={
            "delete_of": hit, "rows_deleted": rows_deleted,
            "n_convs_deleted": len(conv_ids),
        }, expected_runs={b: _layer(bucket_meta[b]) for b in hit})
        return {"rewritten_buckets": hit, "rows_deleted": rows_deleted}

    def merge_classified(self, spark: SparkSession, cdf: DataFrame) -> dict:
        """Conversation-granularity MERGE (upsert) — the merge-on-read
        ``MERGE INTO`` analogue for re-delivered conversations:
        WHEN MATCHED, every previously committed row of the
        conversation is replaced by the new rows (a re-delivery
        supersedes its old turns, never interleaves with them);
        WHEN NOT MATCHED, a plain insert. ``cdf`` is a classified +
        bucketed frame (the exact shape ``write_classified`` takes —
        :func:`pipeline.upsert` builds it), whose ``bucket`` column
        MUST be computed under the manifest's pinned ``n_buckets``.

        Cost follows the batch, not the table. Each touched bucket
        gets a new DELTA run holding the batch's rows plus the old
        delta's surviving rows; the new run's ``_run.json`` lists D(b),
        every conv id upserted into the bucket since it was last
        folded, and readers drop those ids from the base run
        (Iceberg v2 equality deletes). No join runs: one pass over the
        persisted batch (``groupBy(bucket, sink_id, conv_id)``) gives
        the inserted counts and the key set, and one pruned pass over
        the touched buckets' live ``conv_id`` column with a literal
        ``isin(keys)`` filter counts the matched rows per layer.

        Fold: a bucket whose new delta would hold more rows than its
        live base, or whose D(b) would list more than
        ``MAX_SUPERSEDED_IDS`` ids, is rewritten whole (the
        copy-on-write merge) and its delta cleared. So an upsert never
        writes more than a full rewrite would, superseded rows stay
        bounded by live ones, and the literal filter every layered
        read plans stays short. A bucket no run holds yet is written
        as a base directly. A row with a null conv_id matches nothing
        (as in an anti-join): it is inserted and supersedes nothing.

        Conservation per (bucket, sink), checked before the manifest
        swap: new delta footers == old delta − matched in delta +
        inserted (a folded bucket: footers == live − matched +
        inserted); the live counts become live − matched + inserted.
        A crash leaves an unreferenced run for ``vacuum``; a bucket
        repointed meanwhile (e.g. by ``compact``) raises
        :class:`CommitConflict`.

        Returns {"rewritten_buckets": [folded buckets],
        "delta_buckets": [...], "rows_deleted": n, "rows_inserted": n,
        "rows_written": n}.
        """
        if self.fmt == "iceberg":
            raise RuntimeError(
                "merge_classified() is the parquet-manifest stand-in; on "
                "the Iceberg branch use the native MERGE INTO — the table "
                "format owns row-level upserts there"
            )
        from pyspark.storagelevel import StorageLevel

        manifest = load_manifest(self.out_dir)
        keep = [c for c in SINK_COLUMNS if c in cdf.columns]
        new_rows = cdf.select(*keep).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            inserted: dict[int, Counter] = {}
            keys: dict[int, set[str]] = {}
            null_buckets: set[int] = set()
            for r in new_rows.groupBy("bucket", "sink_id", "conv_id").count() \
                    .collect():
                b = int(r["bucket"])
                inserted.setdefault(b, Counter())[str(r["sink_id"])] += r["count"]
                if r["conv_id"] is not None:  # a null id supersedes nothing
                    keys.setdefault(b, set()).add(r["conv_id"])
                else:
                    null_buckets.add(b)
            if not inserted:
                return {"rewritten_buckets": [], "delta_buckets": [],
                        "rows_deleted": 0, "rows_inserted": 0,
                        "rows_written": 0}
            touched = sorted(inserted)
            nb = manifest.get("n_buckets")
            if nb is not None and touched[-1] >= int(nb):
                raise ValueError(
                    f"updates carry bucket {touched[-1]} but the table's "
                    f"bucket space is n_buckets={nb} — classify the updates "
                    "under the manifest's recorded count (pipeline.upsert "
                    "does this)"
                )
            all_keys = sorted(set().union(*keys.values()))
            cond = _conv_in(all_keys)
            held = {b: manifest["buckets"][str(b)] for b in touched
                    if str(b) in manifest["buckets"]}
            live = {b: m for b, m in held.items() if m["rows"]}

            # matched rows per bucket and sink, in all and in the delta:
            # the touched buckets' live rows, conv_id and partition
            # columns only
            matched: dict[int, Counter] = {}
            matched_delta: dict[int, Counter] = {}
            if live:
                for r in (
                    self._read_committed(spark, _by_run(live), tag="_run")
                    .select("bucket", "sink_id", "conv_id", "_run")
                    .filter(cond).groupBy("bucket", "sink_id", "_run")
                    .count().collect()
                ):
                    b, sink, n = int(r["bucket"]), str(r["sink_id"]), r["count"]
                    matched.setdefault(b, Counter())[sink] += n
                    if r["_run"] == live[b].get("delta_run_id"):
                        matched_delta.setdefault(b, Counter())[sink] += n

            new_live, new_delta, sup, folded = {}, {}, {}, []
            for b in touched:
                meta = held.get(b, {"sinks": {}})
                new_live[b] = _apply(meta["sinks"], matched.get(b, {}),
                                     inserted[b])
                new_delta[b] = _apply(meta.get("delta_sinks", {}),
                                      matched_delta.get(b, {}), inserted[b])
                sup[b] = keys.get(b, set()).union(
                    self._superseded_ids(meta.get("delta_run_id"), b))
                # fold where the delta would outgrow the live base, or
                # D(b) its bound
                if 2 * sum(new_delta[b].values()) > sum(new_live[b].values()) \
                        or len(sup[b]) > MAX_SUPERSEDED_IDS:
                    folded.append(b)
            layered = [b for b in touched if b not in folded]

            # the new run: the batch plus the surviving rows of every
            # touched old delta and of the folded buckets' bases
            # (planning both layers of a bucket drops D(b) from its base)
            sel: dict[str, list[int]] = {}
            for b, meta in live.items():
                for run_id in (meta["run_id"] if b in folded else None,
                               meta.get("delta_run_id")):
                    if run_id:
                        sel.setdefault(run_id, []).append(b)
            out = new_rows
            if sel:
                out = out.unionByName(
                    self._read_committed(spark, sel)
                    .filter(_conv_not_in(all_keys)),
                    allowMissingColumns=True)
            rewriter = SinkSet(out_dir=self.out_dir, fmt=self.fmt)
            rewriter._write_run(
                out.repartition(len(touched), "bucket")
                .sortWithinPartitions("bucket", "sink_id", "conv_id",
                                      "turn_idx"))
            new_lineage = rewriter._lineage_from_footers()
            entries: dict[int, dict] = {}
            for b in touched:
                exp = new_live[b] if b in folded else new_delta[b]
                got = new_lineage.get(b, {"rows": 0, "sinks": {}})
                if got["sinks"] != exp or got["rows"] != sum(exp.values()):
                    raise RuntimeError(
                        f"merge conservation violated for bucket {b}: "
                        f"expected {exp!r}, the new run holds {got!r} — "
                        "manifest left untouched"
                    )
                entries[b] = {"rows": sum(new_live[b].values()),
                              "sinks": new_live[b]}
                if b not in folded:
                    entries[b].update(
                        run_id=held[b]["run_id"],
                        delta_run_id=rewriter.run_id,
                        delta_sinks=new_delta[b])
            rewriter._supersedes = {b: sup[b] for b in layered}
            rewriter._change_keys = {"keys": all_keys,
                                     "null_buckets": sorted(null_buckets)}
            rows_deleted = sum(sum(m.values()) for m in matched.values())
            rows_inserted = sum(sum(m.values()) for m in inserted.values())
            rows_written = sum(e["rows"] for e in new_lineage.values())
            rewriter.commit(entries, extra={
                "merge_of": touched, "rows_deleted": rows_deleted,
                "rows_inserted": rows_inserted, "rows_written": rows_written,
            }, expected_runs={b: _layer(m) for b, m in held.items()})
            return {"rewritten_buckets": folded, "delta_buckets": layered,
                    "rows_deleted": rows_deleted,
                    "rows_inserted": rows_inserted,
                    "rows_written": rows_written}
        finally:
            new_rows.unpersist()

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots
    #    stand-ins) ------------------------------------------------------

    _SORT_ORDERS = {
        "key": ("conv_id", "turn_idx"),
        "time": ("ts", "conv_id", "turn_idx"),
        "zorder": None,  # derived z-value column, see _zvalue_col
    }

    _Z_BITS = 8  # 8 bits per dimension -> 16-bit z-values

    @staticmethod
    def _z_stats(df: DataFrame) -> tuple:
        """The two bounded driver-side stat passes behind the z-value:
        one combined agg (ts 256-quantile boundaries + conv_id
        min/max, whose common prefix sizes the proxy skip), then the
        prefix-dependent conv-proxy quantiles. Run on the
        PRE-repartition frame: plain scans with partial aggregation,
        never re-executions of the compaction exchange. Returns
        (ts_bounds, conv_bounds, skip)."""
        qarr = F.array(*[F.lit((i + 1) / 256.0) for i in range(255)])
        tsql, _ = SinkSet._z_dim_sql(0)
        tb, mn, mx = df.agg(
            F.percentile_approx(F.expr(tsql), qarr, F.lit(10000)),
            F.min("conv_id"), F.max("conv_id")).collect()[0]
        skip = len(os.path.commonprefix([mn or "", mx or ""]))
        _, csql = SinkSet._z_dim_sql(skip)
        cb = df.agg(F.percentile_approx(
            F.expr(csql), qarr, F.lit(10000))).collect()[0][0]
        return tb, cb, skip

    @staticmethod
    def _z_dim_sql(skip: int) -> tuple:
        """SQL text of the two numeric dimensions: ts as a microsecond
        offset, conv_id as an order-preserving numeric proxy of the 6
        bytes after the dataset's common prefix (``skip`` chars — the
        common prefix of global min and max is shared by every value
        between them, so dropping it spends the proxy's width on the
        bytes that actually vary; "convNNNNNN"-style ids would
        otherwise collapse into one bucket). Six bytes keep the proxy
        below 256^6 ≈ 2.8e14 < 2^53, so the double sum is exact; a
        seventh would reach ~7.2e16 and round the low bytes away.
        Text, not Columns, because the whole z pipeline is assembled
        as ONE F.expr string: building the 2 x 511-node search trees
        through the Column API costs ~2k py4j round-trips of driver
        time per compact() call."""
        tsql = ("cast(timestampdiff(MICROSECOND, "
                "timestamp_ntz'2000-01-01 00:00:00', ts) as double)")
        terms = [
            f"(coalesce(ascii(substring(conv_id, {skip + 1 + i}, 1)), 0)"
            f" * {float(256 ** (5 - i))!r})"
            for i in range(6)
        ]
        csql = "(" + " + ".join(terms) + ")"
        return tsql, csql

    @staticmethod
    def _z_bucket_tree_sql(bounds, num_sql: str) -> str:
        """Count of quantile boundaries <= num (bisect_right) as a
        BINARY SEARCH of nested CASE WHENs: 8 plain comparisons per
        row, whole-stage-codegen friendly. The obvious
        size(filter(boundary_array, b -> b <= num)) evaluates a
        lambda per element OUTSIDE codegen and measured ~1k
        rows/s/core — a compaction bottleneck. ``num_sql`` should be
        a MATERIALIZED column name (see _compaction_plan): a compound
        expression is copy-pasted into all 255 conditions, inflating
        parse/analysis cost."""
        bs = [float(b) for b in bounds]

        def rec(lo: int, hi: int) -> str:
            if lo == hi:
                return f"CAST({lo} AS BIGINT)"
            mid = (lo + hi + 1) // 2
            return (f"(CASE WHEN {num_sql} >= {bs[mid - 1]!r} "
                    f"THEN {rec(mid, hi)} ELSE {rec(lo, mid - 1)} END)")

        return rec(0, len(bs))

    @staticmethod
    def _z_interleave(tbits: "F.Column", cbits: "F.Column") -> "F.Column":
        """Morton interleave of two 8-bit bucket ids via the shift/
        mask magic-number spread — pure codegen long arithmetic
        (Column form: each level reuses the same underlying JVM
        expression object, no textual duplication)."""

        def spread(x: "F.Column") -> "F.Column":
            # 8 -> 16 bits: b7..b0 to even positions 14,12,...,0
            x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F))
            x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333))
            return (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555))

        return spread(tbits).bitwiseOR(F.shiftleft(spread(cbits), 1))

    @staticmethod
    def _zvalue_col(df: DataFrame) -> "F.Column":
        """Morton/Z-value over (ts, conv_id) as ONE self-contained
        Column — the multi-dimensional clustering key of
        ``sort_order="zorder"`` (the Delta/Iceberg OPTIMIZE ZORDER
        technique, public): each dimension quantizes BY VALUE into
        256-quantile range ids (file skipping consults the raw
        columns' min/max footer stats, so a hash dimension would
        scatter every file's bounds across the whole domain and prune
        nothing) and the 8-bit ids are bit-interleaved, so a file of
        consecutive z-values carries moderately narrow bounds on BOTH
        columns at once — "key" order prunes conv lookups but not
        time ranges, "time" the reverse; z-order serves mixed
        workloads from one layout at ~sqrt the single-dim tightness.

        Convenience/test form (dimension SQL inlined per condition);
        the hot path (_compaction_plan) MATERIALIZES the dimension
        values as columns first so each search tree references a leaf
        column."""
        tb, cb, skip = SinkSet._z_stats(df)
        tsql, csql = SinkSet._z_dim_sql(skip)
        return SinkSet._z_interleave(
            F.expr(SinkSet._z_bucket_tree_sql(tb, tsql)),
            F.expr(SinkSet._z_bucket_tree_sql(cb, csql)))

    def _compaction_plan(self, spark: SparkSession,
                         by_run: dict[str, list[int]],
                         sort_order: str = "key") -> DataFrame:
        """The compaction read+rewrite dataflow (shared with the plan
        test so the asserted shape IS the executed shape): committed
        buckets of the given runs, ONE exchange hash-partitioned on
        the existing ``bucket`` column, each task sorted to satisfy
        the dynamic-partition writer's required ordering."""
        n_buckets = len({b for bs in by_run.values() for b in bs})
        src = self._read_committed(spark, by_run)
        df = src.repartition(max(1, n_buckets), "bucket")
        if sort_order == "zorder":
            # stats derive from the PRE-repartition frame (plain
            # scans, not re-executions of the compaction exchange);
            # the dimension values and bucket ids MATERIALIZE as
            # columns so each 255-condition search tree references a
            # leaf instead of embedding the dimension expression per
            # condition, and the tree SQL is parsed JVM-side in one
            # F.expr call (the Column-API build cost ~2k py4j round
            # trips of driver time per compact)
            tb, cb, skip = self._z_stats(src)
            tsql, csql = self._z_dim_sql(skip)
            return (
                df.withColumn("_zt", F.expr(tsql))
                .withColumn("_zc", F.expr(csql))
                .withColumn("_zbt", F.expr(
                    self._z_bucket_tree_sql(tb, "_zt")))
                .withColumn("_zbc", F.expr(
                    self._z_bucket_tree_sql(cb, "_zc")))
                .withColumn("_z", self._z_interleave(
                    F.col("_zbt"), F.col("_zbc")))
                .sortWithinPartitions(
                    "bucket", "sink_id", "_z", "conv_id", "turn_idx")
                .drop("_zt", "_zc", "_zbt", "_zbc", "_z")
            )
        return df.sortWithinPartitions(
            "bucket", "sink_id", *self._SORT_ORDERS[sort_order])

    def _bucket_files(self, run_id: str, b: int) -> dict[str, int]:
        """Parquet files per sink under run ``run_id``'s bucket ``b``."""
        per_sink: Counter = Counter()
        for rel in self._run_files(run_id, [b]):
            sink = [s for s in rel.split(os.sep) if s.startswith("sink_id=")]
            per_sink[sink[0].split("=", 1)[1] if sink else ""] += 1
        return dict(per_sink)

    def compact(self, spark: SparkSession,
                min_files_per_partition: int = 2,
                max_records_per_file: int | None = None,
                sort_order: str = "key") -> dict:
        """Rewrite committed buckets' small files into one file per
        (bucket, sink_id) and atomically repoint the manifest — the
        parquet stand-in for Iceberg's ``rewrite_data_files`` +
        snapshot swap.

        Why this exists at 100 TB: fan-out writes shard each bucket
        partition across every task that held rows for it (tasks x
        sinks files per run), and resumed/multi-run tables accrete
        runs. Scans then pay per-file open + footer costs and lose
        row-group locality. Compaction is a bucket-parallel rewrite:
        one shuffle keyed on the existing ``bucket`` column (no
        re-hash of conv_id needed), each task writes exactly its
        bucket's partitions, sorted by (sink_id, conv_id, turn_idx) so
        routed-row order is preserved within every sink.

        ``sort_order`` picks the clustering — the Iceberg
        ``WRITE ORDERED BY`` decision, made per table by dominant read
        pattern: "key" (default) rolls conv-contiguous files (narrow
        conv_id bounds: point lookups plan 1-2 files; ts bounds only
        as narrow as conv-id/time correlation), "time" rolls
        time-contiguous files (narrow ts bounds: read_time_range
        skips files even for time-RANDOM conv ids; conv lookups then
        lean on bucket pruning + parquet row-group stats alone).
        "time" keeps a conversation's relative turn order whenever its
        event time is non-decreasing in turn_idx (ties break by
        (conv_id, turn_idx)); readers that need strict order sort
        explicitly, as they already must across files. "zorder"
        interleaves quantized (ts, conv-hash) bits (see _zvalue_col —
        the OPTIMIZE ZORDER technique) so files carry usable min/max
        bounds on BOTH dimensions: the mixed-workload clustering when
        neither point lookups nor time ranges dominate; within a file
        rows still tie-break (conv_id, turn_idx). The chosen
        order is recorded in the snapshot history. The
        already-at-target no-op check is file-count-based, so
        switching sort_order alone does not rewrite partitions whose
        file count already matches — change the file target too, or
        rewrite via rebucket, when re-clustering an already-compacted
        table.

        ``max_records_per_file`` is the file-size target (Iceberg
        rewrite_data_files' target-file-size-bytes analogue): at
        100 TB "one file per (bucket, sink)" can mean a 100 GB file,
        so set it to rows-per-target-size and the writer rolls to a
        new sorted file at that count. Rolled files still honor the
        (conv_id, turn_idx) order within each partition; a partition
        compacted under a target is considered done when its file
        count already matches ceil(rows / target) (so re-running with
        the same target is a no-op, not a rewrite loop).

        Known straggler bound: the rewrite is one TASK per bucket
        (``_compaction_plan``), so a bucket far above the
        rows-per-bucket invariant sorts on one core even when
        ``max_records_per_file`` splits its output. The invariant is
        maintained upstream — ``auto_bucket_count`` sizes the bucket
        space to ~250k rows/bucket and hot conversations are salted at
        write time — so a pathological bucket here means the table's
        bucket count needs doubling (a full-table rewrite under a new
        ``n_buckets``), the same operational answer as Iceberg's
        bucket-transform evolution.

        Safety: the rewrite lands in a NEW run dir; the manifest swap
        happens only after parquet-footer counts from the new files
        match the committed lineage exactly (same conservation check
        as write_classified). A crash mid-compaction leaves the old
        manifest intact and only an unreferenced run dir behind
        (collected by ``vacuum``). Buckets already at or under
        ``min_files_per_partition`` files per partition are left in
        place (their old run stays referenced for them). A bucket that
        carries an upsert's delta run is always rewritten: compaction
        FOLDS it back to one base run of its live rows, dropping the
        superseded base rows.

        Returns {"rewritten_buckets": [...], "files_before": n,
        "files_after": n}.
        """
        if self.fmt == "iceberg":
            raise RuntimeError(
                "compact() is the parquet-manifest stand-in; on the Iceberg "
                "branch use the native CALL catalog.system.rewrite_data_files"
                "(table) procedure — the table format owns its file layout"
            )
        if sort_order not in self._SORT_ORDERS:
            raise ValueError(
                f"sort_order must be one of {sorted(self._SORT_ORDERS)}: "
                f"{sort_order!r}")
        manifest = load_manifest(self.out_dir)
        if not manifest["buckets"]:
            raise FileNotFoundError(f"no committed buckets under {self.out_dir}")

        # survey committed (bucket -> run, per-sink files) from the
        # filesystem; skip buckets already at their target layout
        import math

        todo: dict[int, dict] = {}
        files_before = 0
        for b, meta in manifest["buckets"].items():
            per_sink = self._bucket_files(meta["run_id"], int(b))
            n_delta = sum(self._bucket_files(
                meta["delta_run_id"], int(b)).values()) \
                if meta.get("delta_run_id") else 0
            files_before += sum(per_sink.values()) + n_delta
            if meta.get("delta_run_id"):
                needs = True  # a layered bucket always folds
            elif max_records_per_file is not None:
                # target layout: ceil(rows / target) files per partition
                needs = any(
                    n != max(1, math.ceil(
                        meta["sinks"].get(s, 0) / max_records_per_file))
                    for s, n in per_sink.items()
                )
            else:
                needs = max(per_sink.values(), default=0) >= min_files_per_partition
            if needs:
                todo[int(b)] = meta
        if not todo:
            return {"rewritten_buckets": [], "files_before": files_before,
                    "files_after": files_before}

        compactor = SinkSet(out_dir=self.out_dir, fmt=self.fmt)
        by_run = _by_run(todo)
        # one task per bucket -> one sorted file per (bucket, sink_id),
        # rolled every max_records_per_file rows when a target is set
        compactor._write_run(
            self._compaction_plan(spark, by_run, sort_order=sort_order),
            max_records_per_file)
        new_lineage = compactor._lineage_from_footers()
        # conservation: the rewrite must carry every committed row
        for b, old in todo.items():
            got = new_lineage.get(b)
            if got is None or got["rows"] != old["rows"] or \
                    got["sinks"] != old["sinks"]:
                raise RuntimeError(
                    f"compaction conservation violated for bucket {b}: "
                    f"committed {old!r}, rewrite produced {got!r} — "
                    f"manifest left untouched"
                )
        compactor.commit(new_lineage,
                         extra={"compaction_of": sorted(by_run),
                                "sort_order": sort_order},
                         expected_runs={b: _layer(m) for b, m in todo.items()})
        files_after = files_before
        for b, old in todo.items():
            files_after += sum(
                self._bucket_files(compactor.run_id, b).values())
            files_after -= sum(
                sum(self._bucket_files(r, b).values())
                for r in _layer(old) if r)
        return {"rewritten_buckets": sorted(todo), "files_before": files_before,
                "files_after": files_after}

    def rebucket(self, spark: SparkSession, new_buckets: int,
                 max_records_per_file: int | None = None) -> dict:
        """Evolve the bucket-space size — the partition-evolution
        operation. A table bucketed at N=256 for 10^11 turns needs
        N=1024 at 10^12: without evolution every write task sorts 4x
        the rows (spilling past its execution-memory share) and every
        point lookup scans 4x the data. Iceberg evolves the partition
        spec lazily (old files keep the old spec); this parquet
        manifest keeps ONE live spec, so evolution is an explicit full
        rewrite — read every committed row, recompute
        ``bucket = pmod(xxhash64(conv_id), new_buckets)``, write one
        new run, and publish it as a ``replace_all`` snapshot that
        atomically swaps the whole bucket map AND re-pins
        ``n_buckets``.

        Safety: optimistic — the commit validates that no bucket was
        repointed since this rewrite read the table (CommitConflict
        otherwise), and conservation — the new lineage's total row
        count and per-sink totals must equal the manifest's, or
        nothing is published. Time travel across the boundary stays
        correct: pre-rebucket snapshots replay with their own bucket
        map and hash point lookups under the OLD count
        (``_n_buckets_as_of``); rollback across it restores the old
        count. The superseded runs become vacuum-collectable.

        Scale shape: one shuffle keyed on the NEW bucket (the same
        single-exchange shape as the original write), one task per new
        bucket, writer-sorted files, ``max_records_per_file`` rolls
        oversized partitions. Returns {"snapshot", "n_buckets_before",
        "n_buckets_after", "rows"}."""
        if self.fmt == "iceberg":
            raise NotImplementedError(
                "on Iceberg, evolve the partition spec via ALTER TABLE "
                "... REPLACE PARTITION FIELD (the format rewrites "
                "lazily); rebucket() is the parquet-manifest path"
            )
        manifest = load_manifest(self.out_dir)
        if not manifest["buckets"]:
            raise FileNotFoundError(f"no committed buckets under {self.out_dir}")
        old_nb = manifest.get("n_buckets")
        if old_nb is not None and int(old_nb) == int(new_buckets):
            raise ValueError(
                f"table is already bucketed at n_buckets={new_buckets}")
        by_run = self._committed_by_run()
        expected = {int(b): _layer(m) for b, m in manifest["buckets"].items()}
        rows_before = sum(int(m["rows"]) for m in manifest["buckets"].values())
        sinks_before: dict[str, int] = {}
        for m in manifest["buckets"].values():
            for s, n in m["sinks"].items():
                sinks_before[s] = sinks_before.get(s, 0) + int(n)

        rewriter = SinkSet(out_dir=self.out_dir, fmt=self.fmt)
        rewriter._write_run(
            self._read_committed(spark, by_run)
            .withColumn("bucket", F.pmod(F.xxhash64("conv_id"),
                                         F.lit(int(new_buckets))).cast("int"))
            .repartition(int(new_buckets), "bucket")
            .sortWithinPartitions("bucket", "sink_id", "conv_id", "turn_idx"),
            max_records_per_file)

        new_lineage = rewriter._lineage_from_footers()
        rows_after = sum(e["rows"] for e in new_lineage.values())
        sinks_after: dict[str, int] = {}
        for e in new_lineage.values():
            for s, n in e["sinks"].items():
                sinks_after[s] = sinks_after.get(s, 0) + int(n)
        if rows_after != rows_before or sinks_after != sinks_before:
            raise RuntimeError(
                f"rebucket conservation violated: committed {rows_before} "
                f"rows {sinks_before!r}, rewrite produced {rows_after} "
                f"rows {sinks_after!r} — manifest left untouched"
            )
        rewriter.commit(
            new_lineage,
            extra={"rebucket_from": old_nb,
                   "rebucket_to": int(new_buckets)},
            n_buckets=int(new_buckets),
            expected_runs=expected,
            replace_all=True,
        )
        return {"snapshot": len(self.snapshots()) - 1,
                "n_buckets_before": old_nb,
                "n_buckets_after": int(new_buckets),
                "rows": rows_after}

    def vacuum(self, min_age_minutes: float = 60.0) -> list[str]:
        """Delete run directories no manifest bucket references, as
        base or as delta run (the ``expire_snapshots`` +
        ``remove_orphan_files`` stand-in). Returns the removed run_ids.
        A snapshot whose runs are gone can no longer be read or rolled
        back to.

        Safety model: READERS are safe by construction (they resolve
        data only through the atomically-swapped manifest, so an
        unreferenced run is invisible), but a concurrent WRITER's
        uncommitted run dir is indistinguishable from an orphan until
        its commit lands. ``min_age_minutes`` is the same guard
        Iceberg's remove_orphan_files uses (``older_than``): run dirs
        younger than it are skipped, so only writes that have been
        in flight longer than the threshold are at risk. Pass 0 only
        where a single driver owns the table (this sandbox's tests)."""
        import shutil

        manifest = load_manifest(self.out_dir)
        live = set(_by_run(manifest["buckets"]))
        runs_dir = os.path.join(self.out_dir, "runs")
        removed = []
        cutoff = time.time() - min_age_minutes * 60.0
        if os.path.isdir(runs_dir):
            for run_id in sorted(os.listdir(runs_dir)):
                path = os.path.join(runs_dir, run_id)
                if run_id not in live and os.path.getmtime(path) <= cutoff:
                    shutil.rmtree(path)
                    removed.append(run_id)
        return removed

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """The _lineage metrics as a queryable DataFrame."""
        manifest = load_manifest(self.out_dir)
        rows = []
        for b, meta in manifest["buckets"].items():
            for sink, n in meta["sinks"].items():
                rows.append((int(b), meta["run_id"], sink, int(n)))
        return spark.createDataFrame(
            rows or [(None, None, None, None)],
            "bucket int, run_id string, sink_id string, rows long",
        ).filter(F.col("bucket").isNotNull())

    def sink_cardinality_df(self, spark: SparkSession) -> DataFrame:
        """Per-(run, sink) conversation cardinality recorded in the
        manifest history by :meth:`compute_sink_cardinality`
        (kind='exact')."""
        manifest = load_manifest(self.out_dir)
        rows = []
        for h in manifest["history"]:
            for sink, n in (h.get("convs_exact") or {}).items():
                rows.append((h["run_id"], sink, int(n), "exact"))
        return spark.createDataFrame(
            rows or [(None, None, None, None)],
            "run_id string, sink_id string, n_convs long, kind string",
        ).filter(F.col("run_id").isNotNull())
