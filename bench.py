#!/usr/bin/env python
"""Scaling proxy for the north rule's two-cluster-size criterion.

    python bench.py --scaling
Runs the production load (``pipeline.run`` with ``buckets="auto"`` and
``hot_threshold="auto"``, the call perfbench times) at local[N] and
local[4N] (default 4/16, taskset-pinned; see SCALE_LEVELS) on the SAME
input (sf10 fixture, 60M turns), in interleaved paired rounds,
computes efficiency = (rate_4N / rate_N) / 4 and rewrites
BENCH/BASELINE.md. Per-run and per-layer performance is measured by
``perfbench/run.py`` (BENCHMARK.json), not here.

Protocol per SURVEY.md §6: SparkSession startup excluded, one warmup
load before timing, medians reported.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SCALE_SF = os.environ.get("SPARK_GRAFT_SCALE_SF", "10")
# N and 4N parallelism levels for the scaling criterion. Default 4->16:
# measured with a pure-CPU fixed-work probe (see _cpu_probe), this VM's
# hardware envelope from 8->32 active cores is only ~0.72 (hypervisor/
# frequency/memory-bandwidth effects) — no code can show 0.8 there —
# while 4->16 has a ~0.9 envelope. The probe result is reported next to
# the pipeline number so the envelope is always visible.
SCALE_LEVELS = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "4,16").split(",")
)
# a paired round only counts as a valid efficiency measurement when the
# job-independent CPU probe shows the VM delivered at least this
# fraction of ideal 4x compute during the round (see run_scaling)
ENV_GATE = float(os.environ.get("SPARK_GRAFT_ENV_GATE", "0.85"))
# STRICT round validity (opt-in, set e.g. 1.10; 0 = off = legacy gate).
# Attempt 2 (BENCH/scaling_round3_state.json) showed the pre-probe gate
# alone admits rounds where the hypervisor degrades DURING the Spark
# runs: the same binary measured eff 0.605 and 0.994 in back-to-back
# "valid" rounds, and round 6's bracketing probes drifted 13% within
# one phase. When set, a round is valid only if the envelope holds at
# ENV_GATE on BOTH the pre and post probes AND each level's
# probe_drift (max/min of its bracketing probes) stays <= this value.
# The gate is symmetric: it discards drift-inflated rounds (like the
# 0.994) exactly as it discards drift-deflated ones (the 0.605) —
# round validity never looks at the job's own efficiency number.
# An attempt's gate definition is fixed before launch via env and
# recorded in its summary/state; never change it mid-attempt.
DRIFT_GATE = float(os.environ.get("SPARK_GRAFT_DRIFT_GATE", "0"))


def _round_valid(a: dict, b: dict, factor: float) -> dict:
    """Validity verdict for one paired round from the two workers'
    probe measurements only (a = lo level, b = hi level). Returns
    env_pre/env_post/drifts plus the boolean, so callers bank the
    evidence alongside the verdict."""
    env_pre = round((a["cpu_probe_sec"] / b["cpu_probe_sec"]) / factor, 3)
    out = {"probe_env": env_pre}
    have_post = "cpu_probe_post_sec" in a and "cpu_probe_post_sec" in b
    if have_post:
        out["probe_env_post"] = round(
            (a["cpu_probe_post_sec"] / b["cpu_probe_post_sec"]) / factor, 3)
        out["probe_drift_lo"] = a.get("probe_drift")
        out["probe_drift_hi"] = b.get("probe_drift")
    valid = env_pre >= ENV_GATE
    if DRIFT_GATE and have_post:
        valid = (valid
                 and out["probe_env_post"] >= ENV_GATE
                 and out["probe_drift_lo"] <= DRIFT_GATE
                 and out["probe_drift_hi"] <= DRIFT_GATE)
    out["valid"] = valid
    return out


# the e2e job runs a production-representative rule set (~32 ordered
# rules, rules/bench.rules) — with a trivial 4-rule config the job is
# all fixed overhead at sandbox scale and no throughput number means
# anything; the oracle-bound operator queries keep rules/default.rules
BENCH_RULES = os.environ.get("SPARK_GRAFT_RULES",
                             os.path.join(ROOT, "rules", "bench.rules"))


def _spark(cores: int):
    from logparse_spark.session import get_spark

    # constant memory PER CORE across parallelism levels: a 4N-executor
    # cluster has 4x the total memory of an N-executor one, so giving
    # both local[] levels the same fixed heap would starve the 4N run
    # (per-task execution-memory share shrinks 4x -> sorts spill) and
    # bias the scaling measurement against it
    mem = os.environ.get("SPARK_DRIVER_MEM", f"{max(8, int(cores * 1.75))}g")
    conf = {"spark.driver.memory": mem}
    # shuffle files on tmpfs: on a real cluster shuffle IO goes to
    # PER-EXECUTOR local disks whose aggregate bandwidth scales with
    # executor count; this sandbox has ONE shared vda for both levels,
    # which (like unpinned CPUs) biases the N-core baseline. tmpfs
    # models disk-per-executor the same way taskset models
    # cores-per-executor. Falls back to default when /dev/shm is absent.
    if os.path.isdir("/dev/shm"):
        conf["spark.local.dir"] = f"/dev/shm/spark_local_{os.getpid()}"
    return get_spark(app_name=f"bench[{cores}]", master=f"local[{cores}]",
                     shuffle_partitions=max(cores, 8),
                     extra_conf=conf)


def _mktemp_out(prefix: str) -> str:
    """Bench sink dirs on tmpfs too (same per-executor-disk argument)."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def _timed_load(spark, sf: str, out_dir) -> tuple[float, int]:
    """One production load of the sf fixture into ``out_dir``, timed:
    ``pipeline.run`` called the way perfbench calls it. Returns
    (seconds, turns)."""
    from logparse_spark import pipeline, stages
    from logparse_spark.fixtures import ensure_fixture
    from logparse_spark.sinks import load_manifest

    d = ensure_fixture(sf)
    src = os.path.join(d, "transcripts.parquet")
    out_dir = str(out_dir)
    # warm page cache + JVM; excluded from timing
    n_in = stages.read_transcripts(spark, src).count()

    t0 = time.monotonic()
    res = pipeline.run(spark, src, out_dir, BENCH_RULES, dict_dir=d,
                       buckets="auto", hot_threshold="auto")
    sec = time.monotonic() - t0
    n_turns = res.total_rows_processed
    # conservation property: every input row is in the committed table
    assert sum(int(m["rows"]) for m in
               load_manifest(out_dir)["buckets"].values()) == n_turns == n_in
    return sec, n_turns


def _cpu_probe(nproc: int) -> float:
    """Fixed-work, embarrassingly-parallel pure-Python regex probe.

    Runs inside the tasksetted worker, so it measures the machine's
    achievable scaling envelope at this core count — the upper bound on
    ANY job's measured efficiency, Spark or not. Returns best-of-3
    wall seconds for a constant total amount of work."""
    import multiprocessing as mp

    total = 51200  # sized so the N=4 level runs ~10s: short probes
    # under-measure the envelope (pool imbalance + cold frequency)
    with mp.Pool(nproc) as p:
        p.map(_probe_work, [4] * nproc)  # spawn + warm the pool
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            p.map(_probe_work, [total // nproc] * nproc)
            best = min(best, time.monotonic() - t0)
    return round(best, 3)


_PROBE_LINES = [
    f"login failed for user u{i} from 10.0.{i % 256}.{i % 199}" for i in range(2000)
] + [f"heartbeat ping seq={i}" for i in range(2000)]


def _probe_work(n_iter: int) -> int:
    import re

    pat = re.compile(r"login failed for user (\w+) from (\d+\.\d+\.\d+\.\d+)")
    c = 0
    for _ in range(n_iter):
        for ln in _PROBE_LINES:
            if pat.search(ln):
                c += 1
    return c


def _scaling_one(cores: int, sf: str, runs: int = 1) -> dict:
    """One parallelism level: e2e seconds over `runs` timed runs
    (after one untimed warmup), plus CPU probes bracketing the runs.

    The PRE probe feeds the envelope gate. The POST probe is a
    DIAGNOSTIC (recorded, never gating — the gate's definition stays
    fixed across an attempt): attempt-2 round 5 passed the pre-gate
    (hi probe 3.649s, the best ever observed) yet its hi Spark run
    came in 31% over the cleanest round's, i.e. the window degraded
    AFTER the probe and DURING the job. pre/post disagreement per
    level quantifies exactly that within-phase drift post hoc."""
    probe_sec = _cpu_probe(cores)
    spark = _spark(cores)
    try:
        # untimed warmup run: python-worker spawn stampede + JIT on the
        # first pass distorts cold medians badly (measured 5-10x).
        # sf1 suffices — input page-cache warmth for the real sf comes
        # from the untimed scan inside _timed_load itself
        out_dir = _mktemp_out(prefix=f"bench_warm_{cores}_")
        try:
            _timed_load(spark, "1", out_dir)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        secs = []
        n_turns = 0
        for _ in range(runs):
            out_dir = _mktemp_out(prefix=f"bench_scale_{cores}_")
            try:
                sec, n_turns = _timed_load(spark, sf, out_dir)
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)
            secs.append(sec)
        med = statistics.median(secs)
        out = {"cores": cores, "runs": [round(s, 3) for s in secs],
               "median_sec": round(med, 3), "n_turns": n_turns,
               "turns_per_sec": round(n_turns / med, 1),
               "cpu_probe_sec": probe_sec}
    finally:
        spark.stop()
        shutil.rmtree(f"/dev/shm/spark_local_{os.getpid()}", ignore_errors=True)
    out["cpu_probe_post_sec"] = _cpu_probe(cores)
    # window stability over this level's phase: 1.0 = the machine
    # delivered the same compute at phase start and end
    out["probe_drift"] = round(
        max(probe_sec, out["cpu_probe_post_sec"])
        / min(probe_sec, out["cpu_probe_post_sec"]), 3)
    return out


def run_scaling(sf: str = SCALE_SF) -> dict:
    """local[N] vs local[4N] on identical input; efficiency = (r4N/rN)/4."""
    # separate subprocesses so each JVM sizes its thread pools cleanly.
    # taskset pins the WHOLE process tree (JVM task threads + shuffle/IO/GC
    # threads + Python UDF workers) to exactly `cores` physical cores —
    # without it the local[N] run borrows the idle cores for its python
    # workers and codec threads, inflating the N-core baseline and
    # making the measured efficiency meaningless as a cluster proxy (an
    # N-core executor is cgroup-confined; this is the sandbox equivalent).
    # INTERLEAVED PAIRED ROUNDS: this VM's absolute speed drifts over
    # time by up to ~2x (hypervisor noise — the fixed-work CPU probe
    # measured 12s and 21s for identical work an hour apart), so timing
    # all N runs then all 4N runs lets one slow period poison one level
    # entirely. Each round times N then 4N back-to-back and yields one
    # efficiency ratio; drift that affects a whole round cancels in the
    # ratio, and the median across rounds rejects asymmetric spikes.
    lo, hi = SCALE_LEVELS
    factor = hi / lo

    def one(cores: int) -> dict:
        cmd = [sys.executable, __file__, "--scaling-worker", str(cores), sf]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    # ENVELOPE GATE: a round is a valid efficiency measurement only if
    # the hardware itself delivered ~4x compute during it. probe_env is
    # job-independent (pure-Python fixed work, zero IO/shuffle): when it
    # reads e.g. 0.70, the hypervisor gave the 4N process only 2.8x the
    # CPU of the N process and NO job could measure >=0.8 in that
    # window. Gating on the probe therefore rejects measurement-invalid
    # windows without ever looking at the job's own numbers (it is not
    # best-of-N cherry-picking). Level order alternates per round so a
    # monotone warming/drift trend biases half the rounds each way.
    # PRE-ROUND WAIT GATE (opt-in via SPARK_GRAFT_SCALE_WAIT_MIN): a
    # paired round costs ~8 min of sf10 runs, and three full round-2
    # attempts burned ~3h discovering post-hoc that the hypervisor
    # never delivered 4x compute. When a wait budget is set, each round
    # first runs the SAME fixed-work probe at both levels (~1 min, no
    # Spark) and sleeps until it reads >= ENV_GATE — i.e. the attempt
    # waits out bad windows cheaply instead of measuring through them.
    # This does not relax validity: the authoritative gate remains the
    # in-round probe, and skipped waits are recorded in the attempt log.
    wait_min = float(os.environ.get("SPARK_GRAFT_SCALE_WAIT_MIN", "0"))
    deadline = time.monotonic() + wait_min * 60
    pre_skips: list[float] = []
    aborted_waiting = False
    rounds = []
    # PER-ROUND CHECKPOINT + RESUME (opt-in via SPARK_GRAFT_SCALE_STATE):
    # an attempt can wait hours for healthy windows and each paired round
    # costs ~8 min of sf10 runs, so losing the process (session restart,
    # OOM-kill) must not lose completed rounds — a round is a complete,
    # self-contained paired measurement, independent of which process ran
    # it, so banked rounds from a killed attempt remain valid evidence.
    # State is written atomically after every round (and every pre-gate
    # skip); a relaunch with the same state path, sf and levels resumes
    # from the banked rounds instead of starting over.
    state_path = os.environ.get("SPARK_GRAFT_SCALE_STATE", "")

    def _save_state() -> None:
        if not state_path:
            return
        tmp = state_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"sf": sf, "levels": [lo, hi], "rounds": rounds,
                       "pre_gate_skips": pre_skips}, f)
        os.replace(tmp, state_path)

    if state_path and os.path.exists(state_path):
        try:
            with open(state_path, encoding="utf-8") as f:
                st = json.load(f)
        except (OSError, ValueError):
            st = None
        if st and st.get("sf") == sf and st.get("levels") == [lo, hi]:
            rounds = st["rounds"]
            pre_skips = st.get("pre_gate_skips", [])
            print(f"[scaling] resumed {len(rounds)} banked round(s) "
                  f"({len([r for r in rounds if r['valid']])} valid) "
                  f"from {state_path}", file=sys.stderr)
        elif st is not None:
            print(f"[scaling] state at {state_path} is for different "
                  "sf/levels — starting fresh", file=sys.stderr)
    want_valid = 3
    # cost bound: at most 6 NEW rounds this process (banked ones are sunk)
    max_rounds = len(rounds) + 6
    while len([r for r in rounds if r["valid"]]) < want_valid \
            and len(rounds) < max_rounds:
        if wait_min:
            while True:
                qenv = round((_cpu_probe(lo) / _cpu_probe(hi)) / factor, 3)
                if qenv >= ENV_GATE:
                    print(f"[scaling] pre-round probe {qenv} >= {ENV_GATE}; "
                          "starting round", file=sys.stderr)
                    break
                pre_skips.append(qenv)
                _save_state()
                if time.monotonic() >= deadline:
                    aborted_waiting = True
                    break
                left = max(0.0, (deadline - time.monotonic()) / 60)
                print(f"[scaling] pre-round probe {qenv} < {ENV_GATE}; "
                      f"waiting ({left:.0f} min budget left)", file=sys.stderr)
                time.sleep(90)
            if aborted_waiting:
                break
        pair = (lo, hi) if len(rounds) % 2 == 0 else (hi, lo)
        got = {c: one(c) for c in pair}
        a, b = got[lo], got[hi]
        t_lo, t_hi = a["median_sec"], b["median_sec"]
        verdict = _round_valid(a, b, factor)
        rounds.append({
            "order": f"{pair[0]}->{pair[1]}",
            "lo_sec": t_lo, "hi_sec": t_hi,
            "eff": round(t_lo / (factor * t_hi), 3),
            **verdict,
            "lo": a, "hi": b,
        })
        r = rounds[-1]
        print(f"[scaling] round {len(rounds)} done: order={r['order']} "
              f"eff={r['eff']} probe_env={r['probe_env']} "
              f"env_post={r.get('probe_env_post')} "
              f"drift={r.get('probe_drift_lo')}/{r.get('probe_drift_hi')} "
              f"valid={r['valid']}", file=sys.stderr)
        _save_state()
    n_valid = len([r for r in rounds if r["valid"]])
    if not rounds:
        # wait budget ran out before any healthy window appeared:
        # nothing was measured at all — emit an attempt log only
        return {
            "metric": f"scaling efficiency local[{lo}] -> local[{hi}] "
                      "(N -> 4N proxy)",
            "value": None,
            "unit": "efficiency",
            "sf": sf,
            "levels": [lo, hi],
            "rounds": [],
            "env_gate": ENV_GATE,
            "wait_budget_min": wait_min,
            "pre_gate_skips": pre_skips,
            "aborted_waiting_for_window": True,
            "n_valid_rounds": 0,
            "inconclusive": True,
        }
    scored = [r for r in rounds if r["valid"]] or rounds
    effs = sorted(r["eff"] for r in scored)
    eff = effs[len(effs) // 2]
    med_round = next(r for r in scored if r["eff"] == eff)
    results = {lo: med_round["lo"], hi: med_round["hi"]}
    ceiling = med_round["probe_env"]
    summary = {
        "metric": f"scaling efficiency local[{lo}] -> local[{hi}] (N -> 4N proxy)",
        "value": eff,
        "unit": "efficiency",
        "sf": sf,
        "n_turns": results[hi]["n_turns"],
        "levels": [lo, hi],
        "rounds": [
            {k: r[k] for k in
             ("order", "lo_sec", "hi_sec", "eff", "probe_env",
              "probe_env_post", "probe_drift_lo", "probe_drift_hi", "valid")
             if k in r}
            for r in rounds
        ],
        "env_gate": ENV_GATE,
        "drift_gate": DRIFT_GATE or None,
        "wait_budget_min": wait_min,
        "pre_gate_skips": pre_skips,
        "aborted_waiting_for_window": aborted_waiting,
        "n_valid_rounds": len([r for r in rounds if r["valid"]]),
        "local_lo": results[lo],
        "local_hi": results[hi],
        "cpu_envelope": ceiling,
        "eff_vs_envelope": round(eff / ceiling, 3) if ceiling else None,
        "pass_ge_0.8": eff >= 0.8,
        # a verdict needs `want_valid` envelope-valid rounds; fewer means
        # the VM never delivered ~4x compute during the session and the
        # number is a measurement of the hypervisor, not the job
        "inconclusive": n_valid < want_valid,
    }
    if summary["inconclusive"]:
        print(f"[scaling] only {n_valid}/{want_valid} envelope-valid rounds — "
              "measurement inconclusive; BENCH/BASELINE.md left untouched",
              file=sys.stderr)
    else:
        _write_baseline_md(summary)
    return summary


def _write_baseline_md(s: dict) -> None:
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    lo, hi = s["levels"]
    rl, rh = s["local_lo"], s["local_hi"]
    md = f"""# BENCH/BASELINE — measured scaling numbers

Protocol (SURVEY.md §6, BASELINE.md): north rule requires throughput
scaling efficiency >=0.8 from N to 4N executors; no real cluster exists
in this sandbox, so the same job runs at two parallelism levels —
`local[{lo}]` vs `local[{hi}]`, each pinned with `taskset -c` to exactly
that many physical cores (the sandbox equivalent of an executor
cgroup: JVM threads AND Python UDF workers confined) — on the SAME
sf{s['sf']} input ({s['n_turns']:,} turns), SparkSession startup
excluded. Because this VM's absolute speed drifts over time (the
fixed-work CPU probe has measured 12s and 21s for identical work an
hour apart — hypervisor noise), the levels are measured in
INTERLEAVED PAIRED ROUNDS (alternating level order so a monotone
drift trend biases half the rounds each way): drift cancels inside
each round's ratio. A round is ENVELOPE-GATED — it counts toward the
verdict only when the job-independent fixed-work CPU probe shows the
hypervisor actually delivered >= {s['env_gate']} of ideal 4x compute
during that round (when the probe itself scales at e.g. 0.70, NO job
can measure >=0.8 in that window — such rounds are measurement-invalid
by construction, judged without looking at the job's own numbers).
Median of the {s['n_valid_rounds']} valid rounds reported.
""" + (f"""
STRICT gate active for this attempt (pre-registered before launch):
besides the pre-probe envelope, each round's POST-run probes must also
hold the envelope at >= {s['env_gate']}, and each level's bracketing
probes must agree within {s['drift_gate']}x (probe_drift = max/min) —
i.e. the window must be STABLE across the whole round, not merely
healthy at its start. The gate is symmetric: it rejects drift-INFLATED
rounds exactly as it rejects drift-deflated ones, and never looks at
the job's own efficiency number.
""" if s.get("drift_gate") else "") + f"""
| round | order | local[{lo}] sec | local[{hi}] sec | efficiency | probe env pre/post | drift lo/hi | valid |
|---|---|---|---|---|---|---|---|
""" + "".join(
        f"| {i + 1} | {r['order']} | {r['lo_sec']} | {r['hi_sec']} | {r['eff']} "
        f"| {r['probe_env']}/{r.get('probe_env_post', '—')} "
        f"| {r.get('probe_drift_lo', '—')}/{r.get('probe_drift_hi', '—')} "
        f"| {'yes' if r['valid'] else 'NO (gated out)'} |\n"
        for i, r in enumerate(s["rounds"])
    ) + f"""

Job = `pipeline.run(..., buckets="auto", hot_threshold="auto")`, the
production load: parquet scan (split size tuned to cores) -> hot-conv
detect -> Arrow-UDF parse/match -> broadcast enrich joins ->
bucket(auto, ~250k rows each)+salt repartition -> fan-out routed
parquet write (sortWithinPartitions) + manifest commit.

| Parallelism | runs (sec) | median sec | turns/sec | cpu probe (fixed work) |
|---|---|---|---|---|
| local[{lo}] (N) | {rl['runs']} | {rl['median_sec']} | {rl['turns_per_sec']:,} | {rl['cpu_probe_sec']}s |
| local[{hi}] (4N) | {rh['runs']} | {rh['median_sec']} | {rh['turns_per_sec']:,} | {rh['cpu_probe_sec']}s |

**Scaling efficiency = (rate_{hi} / rate_{lo}) / {hi // lo} = {s['value']}**
(pass threshold 0.8: {"PASS" if s['pass_ge_0.8'] else "FAIL"})

Hardware envelope at these levels (pure-Python fixed-work regex probe,
embarrassingly parallel, zero shuffle/IO — the best ANY job could
show): {s['cpu_envelope']}. Pipeline efficiency relative to the
envelope: {s['eff_vs_envelope']}. For reference, this VM's envelope
from 8->32 active cores is ~0.72 (frequency/hypervisor/memory-
bandwidth effects at high core occupancy), which is why the N=4
ladder is used — at 8->32 the criterion is unmeasurable on this box,
not unmet by the job.

Non-default spark conf: shuffle.partitions = max(cores, 8), AQE on
(coalescePartitions, skewJoin), Arrow batch 100k rows, committer v2,
heap = 1.75g x cores (constant memory-per-core, matching how cluster
memory scales with executor count), shuffle local dirs + sink output
on tmpfs (per-executor local disks scale with executor count on a real
cluster; the single shared vda does not — tmpfs models
disk-per-executor the way taskset models cores-per-executor).
Generated by `python bench.py --scaling`.
"""
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "w",
              encoding="utf-8") as f:
        f.write(md)


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--scaling-worker"]:
        cores, sf = int(args[1]), args[2]
        print(json.dumps(_scaling_one(cores, sf)))
        return
    if args[:1] == ["--scaling"]:
        print(json.dumps(run_scaling()))
        return
    print("usage: python bench.py --scaling", file=sys.stderr)
    sys.exit(2)


if __name__ == "__main__":
    main()
