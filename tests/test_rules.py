"""Unit tests: rule DSL parse/compile (SURVEY.md §5.2 layer 1). No Spark."""

import pytest

from logparse_spark.rules import (
    RuleSyntaxError,
    compile_rules,
    compile_template,
    dispatch_case_sql,
    load_rules,
    parse_rules,
)

DSL = """
# comment
rule heartbeat  match /^heartbeat ping seq=\\d+$/ ignore
rule authfail   match /login failed for user (\\w+) from ([\\d.]+)/ count {1}
rule error      match /ERROR (\\d+): (.+) in step (\\d+)/ report "err {1} step {3}: {2}"
rule toolcall   on tool match /^(\\w+)\\(arg=(\\w+)\\)$/ count {1}
"""


def test_parse_order_and_fields():
    specs = parse_rules(DSL)
    assert [s.name for s in specs] == ["heartbeat", "authfail", "error", "toolcall"]
    assert [s.rule_id for s in specs] == [0, 1, 2, 3]
    assert specs[0].action == "ignore" and specs[0].field == "text"
    assert specs[3].field == "tool" and specs[3].template == "{1}"
    assert specs[2].template == "err {1} step {3}: {2}"


def test_compile_sinks_and_groups():
    c = compile_rules(DSL)
    assert c.sink_ids == ["ignored", "authfail", "error", "toolcall", "unmatched"]
    assert c.by_name("error").n_groups == 3
    assert c.max_groups == 3


def test_template_render_row():
    t = compile_template("err {1} step {3}: {2}")
    assert t.render_row("whole", ["404", "boom", "7"]) == "err 404 step 7: boom"
    t0 = compile_template("<{0}>")
    assert t0.render_row("abc", []) == "<abc>"


@pytest.mark.parametrize(
    "bad",
    [
        "rule x match /a(/ ignore",             # bad regex
        "rule x match /a/ count",               # count without key
        "rule x match /a/ report no-quotes",    # report without quotes
        "rule x match /a/ frobnicate",          # unknown action
        "rule unmatched match /a/ ignore",      # reserved name
        "rule x match /(a)/ count {2}",         # group out of range
        "rule x match /a/ ignore\nrule x match /b/ ignore",  # dup name
    ],
)
def test_bad_dsl_raises(bad):
    with pytest.raises(RuleSyntaxError):
        compile_rules(bad)


def test_load_default_rules_fixture():
    c = load_rules("/root/repo/rules/default.rules")
    assert len(c.rules) == 4
    assert c.by_name("heartbeat").spec.action == "ignore"


def test_dispatch_case_sql_duckdb_runs():
    import duckdb

    c = compile_rules(DSL)
    sql = dispatch_case_sql(c, dialect="duckdb")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT {sql} AS sink_id FROM (
          SELECT * FROM (VALUES
            ('heartbeat ping seq=12', NULL),
            ('login failed for user bob from 1.2.3.4', NULL),
            ('ERROR 500: boom in step 3', NULL),
            ('hello world', 'search(arg=q)'),
            ('hello world', 'search'),
            ('heartbeat ping seq=12 extra', NULL)
          ) AS t(text, tool))
        """
    ).fetchall()
    assert [r[0] for r in rows] == [
        "ignored", "authfail", "error", "toolcall", "unmatched", "unmatched",
    ]


def _arrow_dispatch(text, tool, compiled):
    """(rule names, rendered) from the Arrow kernel, checked against
    the scalar oracle row by row."""
    import pyarrow as pa

    from logparse_spark.kernel import parse_and_match_arrow
    from tests.oracle_ref import classify_row

    rid, rendered, caps = parse_and_match_arrow(
        pa.array(text, type=pa.string()), pa.array(tool, type=pa.string()),
        compiled, captures=True)
    want = [classify_row(t, tl, compiled) for t, tl in zip(text, tool)]
    assert rid.to_pylist() == [w["rule_id"] for w in want]
    assert rendered.to_pylist() == [w["rendered"] for w in want]
    assert caps.to_pylist() == [w["captures"] for w in want]
    return [w["rule_name"] for w in want], rendered.to_pylist()


def test_load_bench_rules_fixture():
    """The benchmark rule set compiles and dispatches on fixture text."""
    from logparse_spark.rules import load_rules

    compiled = load_rules("/root/repo/rules/bench.rules")
    assert len(compiled.rules) >= 30
    names, _ = _arrow_dispatch(
        ["heartbeat ping seq=7", "login failed for user bob from 1.2.3.4",
         "GC pause 250ms in generation old", "plain chatter"],
        [None, None, None, "grep"],
        compiled,
    )
    assert names == ["heartbeat", "authfail", "gcpause", "toolbare"]


def test_case_insensitive_flag():
    """Perl-style /i: scoped (?i:) wrapping, search semantics kept,
    capture numbering unchanged; the case-sensitive rule stays so."""
    c = compile_rules(
        "rule warn match /warning: (\\w+)/i count {1}\n"
        "rule plain match /ERROR (\\w+)/ count {1}\n"
    )
    assert c.rules[0].spec.pattern == "(?i:warning: (\\w+))"
    names, rendered = _arrow_dispatch(
        ["WARNING: disk", "Warning: cpu", "warning: mem", "ERROR io", "error io"],
        [None] * 5, c)
    assert names == ["warn", "warn", "warn", "plain", None]
    assert rendered == ["disk", "cpu", "mem", "io", "error io"]


def test_case_insensitive_flag_engine_and_oracle_parity():
    """The /i rule means the same thing in every engine: the RE2/Arrow
    kernel (above), Spark's Java-regex SQL CASE engine, and the DuckDB
    oracle regex dialect."""
    import duckdb

    got = duckdb.sql(
        "SELECT regexp_matches('WARNING: disk', '(?i:warning: (\\w+))'),"
        "       regexp_extract('WARNING: disk', '(?i:warning: (\\w+))', 1)"
    ).fetchone()
    assert got == (True, "disk")


def test_case_insensitive_flag_sql_engine_parity(spark):
    """The SQL CASE engine (Java regex) dispatches /i rules identically
    to the Arrow kernel through the full classify plan."""
    from pyspark.sql import functions as F

    from logparse_spark import pipeline

    c = compile_rules("rule warn match /warning: (\\w+)/i count {1}\n")
    df = (
        spark.createDataFrame(
            [("c0", 0, "user", "WARNING: disk", None, "2026-01-01"),
             ("c1", 0, "user", "warning: cpu", None, "2026-01-01"),
             ("c2", 0, "user", "no match here", None, "2026-01-01")],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    want = [("c0", "warn", "disk"), ("c1", "warn", "cpu"),
            ("c2", None, "no match here")]
    for engine in ("udf", "sql"):
        got = sorted(
            (r["conv_id"], r["rule_name"], r["rendered"])
            for r in pipeline.classify(df, c, buckets=2, engine=engine)
            .select("conv_id", "rule_name", "rendered").collect()
        )
        assert got == want, engine


def test_load_rules_composes_multiple_files(tmp_path):
    """LogParse CLI shape: several config files scanned as ONE ordered
    first-match list (file order preserved); duplicate names across
    files are rejected like duplicates within one."""
    from logparse_spark.rules import RuleSyntaxError, load_rules

    a = tmp_path / "a.rules"
    b = tmp_path / "b.rules"
    a.write_text("rule one match /aaa/ ignore\n")
    b.write_text("rule two match /aaa bbb/ count {0}\n")
    c = load_rules([str(a), str(b)])
    assert [r.spec.name for r in c.rules] == ["one", "two"]
    # file order IS rule order: 'one' wins on a line both could match
    names, _ = _arrow_dispatch(["aaa bbb"], [None], c)
    assert names == ["one"]

    dup = tmp_path / "dup.rules"
    dup.write_text("rule one match /zzz/ ignore\n")
    with pytest.raises(RuleSyntaxError, match="duplicate"):
        load_rules([str(a), str(dup)])


def test_dsl_fuzz_roundtrip_and_sql_generation():
    """Property fuzz over the DSL surface: random rule files (names,
    literal-ish patterns including QUOTES, actions, /i flags, min/top
    clauses) must compile with order preserved, and the generated
    DuckDB dispatch CASE must actually EXECUTE in DuckDB against the
    patterns verbatim — the escaping path (_sql_quote) that every
    oracle depends on, exercised with hostile characters instead of
    only fixture patterns."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from logparse_spark.rules import compile_rules, dispatch_case_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 'abc ''x'' 12' AS text, "
                "'tool(arg=a)' AS tool")

    word = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
    # literal-safe pattern pieces; ' stresses SQL quoting, . and \\d
    # stress regex passthrough
    piece = st.sampled_from(
        ["abc", "x y", "'", "12", r"\d", ".", "ab'cd", r"z\d+"])
    pattern = st.lists(piece, min_size=1, max_size=4).map("".join)
    action = st.sampled_from([
        "ignore", 'count "k {0}"', 'report "saw {0}"',
    ])
    flag = st.sampled_from(["", "i"])
    tail = st.sampled_from(["", " min 2", " top 3", " top 3 min 2"])

    rule = st.tuples(word, pattern, action, flag, tail)

    @settings(max_examples=40, deadline=None)
    @given(rules=st.lists(rule, min_size=1, max_size=6))
    def check(rules):
        lines, names, used = [], [], set()
        for i, (name, pat, act, fl, tl) in enumerate(rules):
            name = f"{name}{i}"  # unique; DSL rejects duplicates
            if name in used:
                return
            used.add(name)
            t = tl if act.startswith(("count", "report")) else ""
            if act.startswith("report") and t:
                t = ""  # min/top are count/sum-only clauses
            lines.append(f"rule {name} match /{pat}/{fl} {act}{t}")
            names.append(name)
        text = "\n".join(lines)
        try:
            c = compile_rules(text)
        except Exception:
            # some random pattern combos are invalid regex ("..+*"
            # style) — rejection with RuleSyntaxError is fine; what
            # must never happen is a compile that then breaks SQL
            from logparse_spark.rules import RuleSyntaxError
            import re as _re
            for _, pat, _, fl, _ in rules:
                p = f"(?i:{pat})" if fl else pat
                try:
                    _re.compile(p)
                except _re.error:
                    return  # legitimately bad regex
            raise
        assert [r.spec.name for r in c.rules] == names  # order held
        sql = dispatch_case_sql(c)
        con.execute(f"SELECT {sql} AS s FROM t").fetchall()  # executes

    check()
