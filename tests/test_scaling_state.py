"""Scaling-attempt checkpoint + resume (bench.run_scaling).

The scaling protocol can wait hours for an envelope-healthy window and
each paired round costs ~8 min of sf10 runs; round 3 lost a 3-round
attempt to a session kill because results were only persisted at the
end. These tests pin the fix: every completed round is checkpointed
atomically to SPARK_GRAFT_SCALE_STATE, and a relaunch with the same
(state path, sf, levels) resumes from the banked rounds instead of
starting over. No Spark involved — the per-level worker subprocess and
the baseline writer are faked. The last test runs the worker's timed
load itself at sf0.001 to pin that it is the production pipeline.run.
"""

from __future__ import annotations

import json
import sys
import types

import pytest

sys.path.insert(0, "/root/repo")
import bench  # noqa: E402


def _fake_worker_result(cores: int) -> dict:
    # perfect scaling + perfect probe envelope: lo takes 4x as long as
    # hi for both the job and the fixed-work probe
    lo, hi = bench.SCALE_LEVELS
    sec = 40.0 if cores == lo else 10.0
    return {
        "cores": cores,
        "runs": [sec],
        "median_sec": sec,
        "n_turns": 1_000_000,
        "turns_per_sec": round(1_000_000 / sec, 1),
        "cpu_probe_sec": sec,
    }


class _FakeRun:
    """subprocess.run stand-in that dies after `die_after` worker calls."""

    def __init__(self, die_after: int | None = None):
        self.calls = 0
        self.die_after = die_after

    def __call__(self, cmd, **kwargs):
        self.calls += 1
        if self.die_after is not None and self.calls > self.die_after:
            raise RuntimeError("simulated session kill")
        cores = int(cmd[cmd.index("--scaling-worker") + 1])
        return types.SimpleNamespace(
            stdout=json.dumps(_fake_worker_result(cores)) + "\n")


@pytest.fixture()
def scale_env(tmp_path, monkeypatch):
    state = tmp_path / "scaling_state.json"
    monkeypatch.setenv("SPARK_GRAFT_SCALE_STATE", str(state))
    # no pre-round wait gate in tests (no probes run in the parent)
    monkeypatch.delenv("SPARK_GRAFT_SCALE_WAIT_MIN", raising=False)
    # never let a test rewrite the real BENCH/BASELINE.md
    monkeypatch.setattr(bench, "_write_baseline_md", lambda s: None)
    return state


def test_rounds_checkpoint_then_resume(scale_env, monkeypatch):
    # attempt 1: the process dies mid-round-3 (after 2 complete rounds
    # = 4 worker calls); the 2 banked rounds must be on disk
    monkeypatch.setattr(bench.subprocess, "run", _FakeRun(die_after=4))
    with pytest.raises(RuntimeError, match="simulated session kill"):
        bench.run_scaling(sf="fake")
    st = json.loads(scale_env.read_text())
    assert st["sf"] == "fake"
    assert st["levels"] == list(bench.SCALE_LEVELS)
    assert len(st["rounds"]) == 2
    assert all(r["valid"] for r in st["rounds"])
    # level order alternates across rounds
    assert st["rounds"][0]["order"] != st["rounds"][1]["order"]

    # attempt 2: resumes the 2 banked rounds, runs exactly ONE more
    # round (2 worker calls) to reach want_valid=3, and concludes
    fake2 = _FakeRun()
    monkeypatch.setattr(bench.subprocess, "run", fake2)
    summary = bench.run_scaling(sf="fake")
    assert fake2.calls == 2
    assert summary["n_valid_rounds"] == 3
    assert len(summary["rounds"]) == 3
    assert not summary["inconclusive"]
    assert summary["value"] == 1.0  # perfect fake scaling


def test_state_for_other_sf_is_ignored(scale_env, monkeypatch):
    scale_env.write_text(json.dumps({
        "sf": "other", "levels": list(bench.SCALE_LEVELS),
        "rounds": [{"valid": True}] * 3, "pre_gate_skips": [],
    }))
    fake = _FakeRun()
    monkeypatch.setattr(bench.subprocess, "run", fake)
    summary = bench.run_scaling(sf="fake")
    # banked rounds for a different sf don't count: 3 fresh rounds ran
    assert fake.calls == 6
    assert len(summary["rounds"]) == 3
    # and the state file now belongs to this attempt
    assert json.loads(scale_env.read_text())["sf"] == "fake"


def test_corrupt_state_starts_fresh(scale_env, monkeypatch):
    scale_env.write_text("{not json")
    fake = _FakeRun()
    monkeypatch.setattr(bench.subprocess, "run", fake)
    summary = bench.run_scaling(sf="fake")
    assert summary["n_valid_rounds"] == 3
    assert fake.calls == 6


def test_timed_load_is_the_production_load(spark, tmp_path):
    """The scaling worker times pipeline.run itself: the input sizes
    the bucket count (stages.auto_bucket_count, not a bench formula)
    and every input row lands in the committed manifest."""
    from logparse_spark import stages
    from logparse_spark.fixtures import ensure_fixture
    from logparse_spark.sinks import load_manifest

    src = f"{ensure_fixture('0.001')}/transcripts.parquet"
    sec, n_turns = bench._timed_load(spark, "0.001", tmp_path)
    assert sec > 0
    assert n_turns == stages.input_row_count(src)
    manifest = load_manifest(str(tmp_path))
    assert manifest["n_buckets"] == stages.auto_bucket_count(spark, src)
    assert sum(int(m["rows"]) for m in manifest["buckets"].values()) == n_turns
