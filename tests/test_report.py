"""Golden report (K1): ``pipeline.render_report``'s full text against an
independent DuckDB oracle over the routed rows.

The oracle reads the committed parquet files directly (one load, so one
run and no superseded rows) with hive partitioning, and renders the
report from its own SQL: per-sink totals, per-rule keyed counts and
sums (``min N`` floor, ``top N`` / ``max_lines_per_rule`` cap, ties
broken by ``count_key``), report samples in (conv_id, turn_idx) order,
and each ignore rule's own match count."""

from __future__ import annotations

import os

import duckdb
import pytest

from logparse_spark import pipeline
from logparse_spark.rules import load_rules

DEFAULT_RULES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "rules", "default.rules")

# Every report feature on the sf0.001 transcripts: three ignore rules
# sharing the ignored sink (one never matches); count rules with
# `top N` and with `min N`, whose keys tie (steps 10 and 32 both match
# 43 rows, so count_key breaks the tie); sum rules with a key template,
# `min N` and `top N`, and with the default key; report rules, one of
# identical lines and one of distinct ones.
GOLDEN_RULES = r"""
rule hbextra   match /^heartbeat ping seq=\d+ extra$/ ignore
rule hbabc     match /^heartbeat ping seq=abc$/ ignore
rule neverhit  match /^no transcript says this$/ ignore
rule authfail  match /login failed for user (\w+) from ([\d.]+)/ count {1} top 5
rule errstep   match /ERROR (\d+): .+ in step (\d+)/ count {2} min 39
rule msgsum    match /^(\S+) .*\(msg (\d+)\)$/ sum {2} key "{1}" min 5500000 top 3
rule casesum   match /ERROR x(\d+): casing broken in step (\d+)/ sum {2}
rule lowerr    match /error (\d+): lowercase in step (\d+)/ report "low {1} step {2}"
rule heartbeat match /^heartbeat ping seq=(\d+)$/ report "seq {1}"
"""


@pytest.fixture(scope="module")
def tables(spark, fixture_sf_small, tmp_path_factory):
    """(out_dir, rules path) per rule set: one load of the sf0.001
    transcripts each."""
    src = f"{fixture_sf_small}/transcripts.parquet"
    root = tmp_path_factory.mktemp("report")
    golden = root / "golden.rules"
    golden.write_text(GOLDEN_RULES)
    out = {}
    for name, rules in (("default", DEFAULT_RULES), ("golden", str(golden))):
        out[name] = (str(root / name), rules)
        pipeline.run(spark, src, out[name][0], rules, buckets=4)
    return out


def oracle_report(out_dir: str, rules_path: str,
                  max_lines_per_rule: int = 20) -> str:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW routed AS SELECT * FROM read_parquet("
        f"'{out_dir}/runs/*/bucket=*/sink_id=*/*.parquet', "
        "hive_partitioning = true, union_by_name = true)")
    cols = {r[0] for r in con.execute("DESCRIBE routed").fetchall()}
    key = "coalesce(count_key, rendered)" if "count_key" in cols else "rendered"

    def q(sql, *args):
        return con.execute(sql, list(args)).fetchall()

    lines = ["LogParse-Spark summary", "======================", ""]
    for rule in load_rules(rules_path).rules:
        name, action = rule.spec.name, rule.spec.action
        (n,), = q("SELECT count(*) FROM routed WHERE rule_name = ?", name)
        lines.append(f"rule {name} ({action}): {n} matches")
        cap = max_lines_per_rule
        if rule.spec.top_k is not None:
            cap = min(cap, rule.spec.top_k)
        floor = rule.spec.min_agg or 0
        if action == "count":
            for k, c in q(f"SELECT {key} AS k, count(*) AS c FROM routed "
                          "WHERE rule_name = ? GROUP BY k HAVING c >= ? "
                          "ORDER BY c DESC, k LIMIT ?", name, floor, cap):
                lines.append(f"  {k}: {c}")
        elif action == "sum":
            for k, t, c in q(
                    f"SELECT {key} AS k, sum(CAST(rendered AS DOUBLE)) AS t, "
                    "count(*) FROM routed WHERE rule_name = ? GROUP BY k "
                    "HAVING t >= ? ORDER BY t DESC, k LIMIT ?",
                    name, floor, cap):
                lines.append(f"  {k}: {int(t) if t == int(t) else t} over {c}")
        elif action == "report":
            for (r,) in q("SELECT rendered FROM routed WHERE rule_name = ? "
                          "ORDER BY conv_id, turn_idx LIMIT ?",
                          name, max_lines_per_rule):
                lines.append(f"  {r}")
        lines.append("")
    for sink in ("unmatched", "ignored"):
        (n,), = q("SELECT count(*) FROM routed WHERE sink_id = ?", sink)
        lines.append(f"{sink}: {n}")
    return "\n".join(lines) + "\n"


@pytest.mark.parametrize("rule_set,max_lines", [
    ("default", 20), ("golden", 20), ("golden", 3)])
def test_report_matches_duckdb_oracle(spark, tables, rule_set, max_lines):
    out, rules = tables[rule_set]
    got = pipeline.render_report(spark, out, load_rules(rules),
                                 max_lines_per_rule=max_lines)
    want = oracle_report(out, rules, max_lines)
    assert got.splitlines() == want.splitlines()
    assert got == want


def test_golden_rule_set_exercises_every_feature(tables):
    """The fixture keeps covering what the golden test claims: a tie
    broken by count_key, keys below their floor, `top N` cutting keys
    that pass the floor, samples past the cap, and an ignore rule that
    matches nothing beside two that match."""
    out, rules = tables["golden"]
    rep = oracle_report(out, rules)

    def section(rule):
        return rep.split(f"rule {rule} (")[1].split("\n\n")[0].splitlines()

    assert section("errstep")[1:3] == ["  10: 43", "  32: 43"]
    assert len(section("errstep")) == 9  # 8 steps at >= 39; 24 has 38
    assert section("msgsum")[1:] == [
        "  please: 6775065 over 126", "  let's: 6618653 over 126",
        "  I: 6321729 over 121"]  # 'the' (5985419) passes min, not top 3
    assert section("authfail")[0] == "count): 1450 matches"
    assert len(section("authfail")) == 6
    assert len(section("heartbeat")) == 21
    assert len(set(section("heartbeat"))) == 21
    assert "rule neverhit (ignore): 0 matches" in rep
    assert "rule hbextra (ignore): 89 matches" in rep


def test_each_ignore_rule_prints_its_own_count(spark, tables):
    """Ignore rules share one sink; each must print its own match
    count, not the sink's total (which is still the footer's
    ``ignored:`` line)."""
    out, rules = tables["golden"]
    rep = pipeline.render_report(spark, out, load_rules(rules))
    assert "rule hbextra (ignore): 89 matches" in rep
    assert "rule hbabc (ignore): 92 matches" in rep
    assert "rule neverhit (ignore): 0 matches" in rep
    assert "ignored: 181" in rep.splitlines()
