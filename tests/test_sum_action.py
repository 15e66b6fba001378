"""The sum action (`sum {n} [key "TPL"] [min N]`): numeric field
aggregation per rule/key — the "bytes transferred" accumulator every
log-report tool grows — plus the report-stage `min` noise floor.

Architecture property under test: the slim Arrow boundary still
carries only (rule_id, rendered) — for sum rules rendered IS the
extracted value, and the grouping key is derived JVM-side pre-shuffle
(sum_key_col) and crosses the exchange in its own nullable column
ONLY when the rule set uses sum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logparse_spark import pipeline, stages
from logparse_spark.rules import RuleSyntaxError, compile_rules, load_rules
from logparse_spark.sinks import SinkSet

RULES = """
rule hb match /^heartbeat ping seq=\\d+$/ ignore
rule stepsum match /ERROR (\\d+): .+ in step (\\d+)/ sum {2} key "code {1}"
rule msgsum on text match /\\(msg (\\d+)\\)$/ sum {1} min 50
rule authfail match /login failed for user (\\w+) from ([\\d.]+)/ count {1}
"""

ROWS = [
    ("c1", 0, "u", "ERROR 17: boom in step 4", "x"),
    ("c1", 1, "u", "ERROR 17: pow in step 6", "x"),
    ("c1", 2, "u", "ERROR 99: zap in step 1", "x"),
    ("c1", 3, "u", "filler (msg 10)", "x"),
    ("c2", 0, "u", "filler (msg 32)", "x"),
    ("c2", 1, "u", "heartbeat ping seq=5", "x"),
    ("c2", 2, "u", "login failed for user bob from 1.2.3.4", "x"),
]


def _df(spark):
    return spark.createDataFrame(
        [(*r, None) for r in ROWS],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


# -- DSL parsing ------------------------------------------------------------

def test_parse_sum_variants():
    c = compile_rules(RULES)
    step = next(r for r in c.rules if r.spec.name == "stepsum")
    assert step.spec.action == "sum"
    assert step.spec.template == "{2}"          # the VALUE group
    assert step.spec.key_template == "code {1}"
    msg = next(r for r in c.rules if r.spec.name == "msgsum")
    assert msg.spec.key_template == "msgsum"    # defaults to rule name
    assert msg.spec.min_agg == 50


def test_parse_count_min_and_quoted_guard():
    c = compile_rules(
        'rule a match /x(\\d+)/ count {1} min 3\n'
        'rule b match /y(\\d+)/ count "k min 5"\n')
    a, b = c.rules
    assert a.spec.min_agg == 3 and a.spec.template == "{1}"
    # a quoted template ending in `"` never loses a literal "min N"
    assert b.spec.min_agg is None and b.spec.template == "k min 5"


@pytest.mark.parametrize("bad", [
    "rule s match /x/ sum",            # no value group
    "rule s match /x/ sum {0}",        # group 0 invalid
    "rule s match /x(\\d)/ sum {2}",   # value group out of range
    'rule s match /x(\\d)/ sum {1} key "{3}"',  # key group out of range
])
def test_parse_sum_errors(bad):
    with pytest.raises(RuleSyntaxError):
        compile_rules(bad)


@pytest.mark.parametrize("bad", [
    "rule s match /x(?P<v>\\d+)y(\\d+)/ sum {2}",   # (?P<…> named group
    "rule s match /(?P<a>a)(?P=a)x(\\d+)/ sum {3}",  # (?P= backref
    "rule s match /x(?#note)(\\d+)/ sum {1}",       # (?# comment
])
def test_sum_rejects_java_incompatible_patterns(bad):
    """A sum rule's grouping key renders through Java regexp_extract
    (udf.sum_key_col) in EVERY engine, so Python-only regex syntax in
    a sum-rule pattern must fail at compile time, not mid-job."""
    with pytest.raises(RuleSyntaxError, match="Python-only"):
        compile_rules(bad)


def test_non_sum_rules_still_accept_python_only_syntax():
    """The fail-fast is scoped to sum rules: count/report/ignore rules
    run entirely through the Python kernels and keep the wider regex
    dialect."""
    c = compile_rules("rule a match /x(?P<v>\\d+)/ count {1}\n")
    assert c.rules[0].spec.action == "count"


def test_sum_with_grok_named_captures(spark):
    """Grok named tokens work in both the value and key templates —
    the weblog shape: total response bytes per status class."""
    c = compile_rules(
        'rule bytes match /"%{WORD:verb} %{NOTSPACE}" %{NONNEGINT:status} '
        '%{NONNEGINT:nbytes}/ sum {nbytes} key "{verb} {status}"\n')
    rows = [
        ("c1", 0, "u", '"GET /a" 200 100', "x"),
        ("c1", 1, "u", '"GET /b" 200 250', "x"),
        ("c1", 2, "u", '"POST /a" 500 7', "x"),
    ]
    df = spark.createDataFrame(
        [(*r, None) for r in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    for engine in ("udf", "sql"):
        sums = {(r["count_key"]): (r["total"], r["n"]) for r in
                stages.keyed_sums(
                    stages.parse_match(df, c, engine=engine)).collect()}
        assert sums == {"GET 200": (350.0, 2), "POST 500": (7.0, 1)}, engine


# -- engines ----------------------------------------------------------------

@pytest.mark.parametrize("engine", ["udf", "sql"])
def test_engines_agree_on_sum(spark, engine):
    c = compile_rules(RULES)
    cdf = stages.parse_match(_df(spark), c, engine=engine)
    got = sorted(map(tuple, cdf.select(
        "turn_idx", "conv_id", "rule_name", "action",
        "count_key", "rendered").collect()))
    assert ("c1", "stepsum", "sum", "code 17", "4") == got[0][1:]
    sums = {(r["rule_name"], r["count_key"]): (r["total"], r["n"])
            for r in stages.keyed_sums(cdf).collect()}
    assert sums == {
        ("stepsum", "code 17"): (10.0, 2),
        ("stepsum", "code 99"): (1.0, 1),
        ("msgsum", "msgsum"): (42.0, 2),
    }


def test_removed_engine_rejected(spark):
    """Two engines remain; the retired "pandas_udf" name is an error,
    not a silent fallback."""
    c = compile_rules(RULES)
    for fn in (stages.parse_match, stages.parse_match_slim):
        with pytest.raises(ValueError, match="unknown engine"):
            fn(_df(spark), c, engine="pandas_udf")


def test_slim_exchange_width(spark):
    """sum_key crosses the exchange ONLY for sum-bearing rule sets."""
    with_sums = stages.parse_match_slim(_df(spark), compile_rules(RULES))
    assert "sum_key" in with_sums.columns
    plain = stages.parse_match_slim(
        _df(spark), load_rules("/root/repo/rules/default.rules"))
    assert "sum_key" not in plain.columns
    # and the attach consumes it
    full = stages.attach_rule_metadata(with_sums, compile_rules(RULES))
    assert "sum_key" not in full.columns
    assert full.filter("action = 'sum' AND count_key IS NULL").count() == 0


# -- pipeline / written table / report --------------------------------------

@pytest.fixture(scope="module")
def sum_run(spark, fixture_sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sum_run"))
    rules = tmp_path_factory.mktemp("rules") / "combined.rules"
    rules.write_text(RULES)
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out, rules_path=str(rules), dict_dir=fixture_sf_small,
        buckets=8, salt_buckets=2,
    )
    return out, str(rules)


def test_written_table_carries_sum_keys_only(spark, sum_run):
    out, _ = sum_run
    routed = SinkSet(out_dir=out).read_routed(spark)
    # sum rows: persisted key + numeric payload
    sums = routed.filter("action = 'sum'")
    assert sums.filter("count_key IS NULL").count() == 0
    assert sums.filter("CAST(rendered AS DOUBLE) IS NULL").count() == 0
    # count rows: key re-derived from the payload (nulled on disk)
    counts = routed.filter("action = 'count'")
    assert counts.count() > 0
    assert counts.filter("count_key IS NULL").count() == 0
    assert counts.filter("count_key <> rendered").count() == 0


def test_keyed_sums_match_source_truth(spark, sum_run, fixture_sf_small):
    out, rules_path = sum_run
    routed = SinkSet(out_dir=out).read_routed(spark)
    from_table = {
        (r["rule_name"], r["count_key"]): (r["total"], r["n"])
        for r in stages.keyed_sums(routed).collect()
    }
    src = stages.read_transcripts(
        spark, f"{fixture_sf_small}/transcripts.parquet")
    cdf = stages.parse_match(src, load_rules(rules_path))
    from_source = {
        (r["rule_name"], r["count_key"]): (r["total"], r["n"])
        for r in stages.keyed_sums(cdf).collect()
    }
    assert from_table == from_source and from_table


def test_report_renders_sums_and_min_floor(spark, sum_run):
    out, rules_path = sum_run
    rep = pipeline.render_report(spark, out, load_rules(rules_path))
    assert "rule stepsum (sum):" in rep
    assert "code " in rep
    # msgsum has min 50: any rendered msgsum aggregate is >= 50
    for line in rep.splitlines():
        if line.strip().startswith("msgsum:"):
            total = float(line.split(":")[1].split("over")[0])
            assert total >= 50


def test_parse_top_clause_variants():
    c = compile_rules(
        "rule a match /x(\\d+)/ count {1} top 5\n"
        "rule b match /y(\\d+)/ count {1} top 3 min 2\n"
        'rule c match /z(\\d+)/ sum {1} key "k {1}" min 4 top 7\n'
        'rule d match /w(\\d+)/ count "top 9"\n')  # quoted guard
    a, b, cc, d = c.rules
    assert (a.spec.top_k, a.spec.min_agg) == (5, None)
    assert (b.spec.top_k, b.spec.min_agg) == (3, 2)
    assert (cc.spec.top_k, cc.spec.min_agg) == (7, 4)
    assert d.spec.top_k is None and d.spec.template == "top 9"
    for bad in ("rule a match /x(\\d)/ count {1} top 0",
                "rule a match /x(\\d)/ count {1} top 2 top 3",
                "rule a match /x(\\d)/ count {1} min 1 min 2"):
        with pytest.raises(RuleSyntaxError):
            compile_rules(bad)


def test_report_honors_per_rule_top_k(spark, sum_run, tmp_path):
    """`top N` caps the RENDERED keys per rule at the N highest
    aggregates (logwatch top-offenders), tighter than the global
    max_lines_per_rule; routed rows are untouched."""
    out, rules_path = sum_run
    capped = RULES.replace("count {1}", "count {1} top 2")
    assert "top 2" in capped  # the replace actually matched
    rp = tmp_path / "top.rules"
    rp.write_text(capped)
    rep = pipeline.render_report(spark, out, load_rules(str(rp)))
    keyed = [ln for ln in _rule_section(rep, "authfail")
             if ln.startswith("  ")]
    assert len(keyed) == 2
    # uncapped render shows more keys for the same rule
    rep_full = pipeline.render_report(spark, out, load_rules(rules_path))
    full = [ln for ln in _rule_section(rep_full, "authfail")
            if ln.startswith("  ")]
    assert len(full) > 2
    # and the 2 rendered are the TOP-2 of the full ranking
    assert keyed == full[:2]


def _rule_section(report: str, rule: str) -> list:
    lines = report.splitlines()
    start = next(i for i, ln in enumerate(lines)
                 if ln.startswith(f"rule {rule} "))
    sect = []
    for ln in lines[start + 1:]:
        if not ln:
            break
        sect.append(ln)
    return sect
