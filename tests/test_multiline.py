"""Multiline record assembly (sources.assemble_multiline /
read_raw_multiline): continuation lines fold into their governing
header, split-boundary-safe — the property that matters at TB file
sizes, where a record's header and its continuation lines routinely
land in different file splits (tasks)."""

import contextlib

import pytest
from pyspark.sql import functions as F

from logparse_spark import sources


@contextlib.contextmanager
def _splits(spark, max_bytes):
    """Read text on ``max_bytes`` splits with a 1-byte open cost inside
    the block, then give the shared session back each key's value, or
    the key unset if it had none."""
    keys = {"spark.sql.files.maxPartitionBytes": max_bytes,
            "spark.sql.files.openCostInBytes": 1}
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _write(tmp_path, name, lines):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


HDRS = [
    "Jan 10 00:00:01 web-01 sshd[100]: login failed for user alice from 10.0.1.2",
    "Jan 10 00:00:02 web-01 nginx[200]: upstream timeout",
    "Jan 10 00:00:03 db-01 cron: rotation complete",
]


def test_basic_fold(spark, tmp_path):
    lines = [
        HDRS[0],
        "    at com.example.Foo.bar(Foo.java:1)",
        "\tcaused by: timeout",
        HDRS[1],
        HDRS[2],
        "-- stray unindented junk --",
    ]
    path = _write(tmp_path, "a.log", lines)
    rows = {r.turn_idx: r for r in sources.read_raw_multiline(spark, path)
            .filter(F.col("conv_id") == "web-01").collect()}
    assert rows[0].text == ("login failed for user alice from 10.0.1.2\n"
                            "    at com.example.Foo.bar(Foo.java:1)\n"
                            "\tcaused by: timeout")
    assert rows[0].role == "sshd" and rows[0].tool == "sshd[100]"
    # stray junk joined the LAST record (db-01's), not web-01's second
    assert rows[1].text == "upstream timeout"
    db = sources.read_raw_multiline(spark, path).filter(
        F.col("conv_id") == "db-01").collect()
    assert db[0].text == "rotation complete\n-- stray unindented junk --"


def test_blank_lines_are_continuations(spark, tmp_path):
    """Pinned blank-line semantics: a blank line is a continuation
    like any other non-header line — it joins the governing record
    (and counts in n_lines), matching log shippers' multiline modes
    and the DuckDB oracle (which trims only the file's single
    trailing newline, never real blank lines)."""
    lines = [
        HDRS[0],
        "",                       # blank inside the record: kept
        "\twrapped after blank",
        HDRS[1],
        "",                       # blank as the record's only cont.
        HDRS[2],
    ]
    path = _write(tmp_path, "blank.log", lines)
    recs = {r["raw"].split("\n", 1)[0]: r
            for r in sources.assemble_multiline(
                spark.read.text(path)).collect()}
    assert recs[HDRS[0]]["raw"] == (
        HDRS[0] + "\n\n\twrapped after blank")
    assert recs[HDRS[0]]["n_lines"] == 3
    assert recs[HDRS[1]]["raw"] == HDRS[1] + "\n"
    assert recs[HDRS[1]]["n_lines"] == 2
    assert recs[HDRS[2]]["n_lines"] == 1
    # downstream field extraction keeps the blank as record content
    rows = {r.conv_id: r for r in
            sources.read_raw_multiline(spark, path).collect()
            if r.conv_id == "web-01" and r.turn_idx == 0}
    assert rows["web-01"].text == (
        "login failed for user alice from 10.0.1.2\n\n"
        "\twrapped after blank")


def test_leading_orphans_dropped(spark, tmp_path):
    path = _write(tmp_path, "b.log", [
        "    orphan continuation before any header",
        "\tanother orphan",
        HDRS[0],
        "    kept frame",
    ])
    out = sources.read_raw_multiline(spark, path).collect()
    assert len(out) == 1
    assert out[0].text == ("login failed for user alice from 10.0.1.2\n"
                           "    kept frame")


def test_header_only_stream_matches_singleline_reader(spark, tmp_path):
    """With zero continuation lines the multiline reader must agree
    with read_raw_syslog row-for-row (malformed lines differ by
    design: syslog drops them, multiline folds them — so use a
    clean-header file)."""
    path = _write(tmp_path, "c.log", HDRS * 5)
    a = sorted(map(tuple, sources.read_raw_syslog(spark, path).collect()))
    b = sorted(map(tuple, sources.read_raw_multiline(spark, path).collect()))
    assert a == b


@pytest.mark.parametrize("split_bytes", [1024, 4096])
def test_split_boundary_invariance(spark, split_bytes):
    """THE scale property: forcing the fixture file into many small
    splits (so records straddle split boundaries) must not change one
    assembled record. On a real cluster splits are 128 MB; equality
    across split sizes here is equality across any layout."""
    from logparse_spark.fixtures.gen_multiline import ensure_multiline_fixture

    path = ensure_multiline_fixture("0.001")
    whole = sorted(map(tuple, sources.read_raw_multiline(spark, path).collect()))
    with _splits(spark, split_bytes):
        lines = spark.read.text(path)
        n_splits = lines.rdd.getNumPartitions()
        assert n_splits > 8, "fixture did not split — test is vacuous"
        split = sorted(map(tuple, sources.read_raw_multiline(spark, path).collect()))
    assert whole == split


def test_record_spanning_three_splits(spark, tmp_path):
    """A record whose continuation lines span MORE than one following
    split: the per-split prefix re-key must walk back past splits that
    contain no header at all (last_hdr NULL), not just one."""
    long_tail = [f"    at frame.number.{i:04d}(F.java:{i})" for i in range(200)]
    path = _write(tmp_path, "d.log", [HDRS[0]] + long_tail + [HDRS[2]])
    with _splits(spark, 512):
        assert spark.read.text(path).rdd.getNumPartitions() > 5
        out = sources.read_raw_multiline(spark, path).collect()
    assert len(out) == 2
    web = next(r for r in out if r.conv_id == "web-01")
    assert web.text.count("\n") == 200
    assert web.text.splitlines()[1:] == long_tail


def test_assembly_plan_is_jvm_only(spark):
    """No Python evaluation anywhere in the assembly plan."""
    from logparse_spark.fixtures.gen_multiline import ensure_multiline_fixture

    path = ensure_multiline_fixture("0.001")
    plan = (sources.read_raw_multiline(spark, path)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_multiline_fixture_deterministic():
    from logparse_spark.fixtures.gen_multiline import gen_multiline_lines

    a = gen_multiline_lines(500)
    b = gen_multiline_lines(500)
    assert a == b
    assert any(l.startswith(("    ", "\t")) for l in a)
    assert not a[0].startswith(("    ", "\t", "--"))


def test_multiline_directive_refines_headers(spark, tmp_path):
    """The rules DSL's `multiline /RE/` directive drives assembly
    through the pipeline: with a header restricted to sshd lines,
    other syslog lines fold into the preceding sshd record instead of
    starting their own."""
    from logparse_spark import pipeline
    from logparse_spark.rules import RuleSyntaxError, compile_rules
    from logparse_spark.sinks import SinkSet

    rules_text = (
        "multiline /^[A-Z][a-z]{2} +\\d{1,2} \\d{2}:\\d{2}:\\d{2} \\S+ sshd/\n"
        "rule auth match /login failed for user (\\w+)/ count {1}\n")
    c = compile_rules(rules_text)
    assert c.multiline_header.endswith("sshd")

    path = _write(tmp_path, "r.log", [
        "Jan 10 00:00:01 web-01 sshd[1]: login failed for user alice",
        "Jan 10 00:00:02 web-01 cron: rotation complete",   # folds in
        "    at frame(F.java:1)",                           # folds in
        "Jan 10 00:00:03 web-01 sshd[2]: login failed for user bob",
    ])
    # direct source call honors the custom header
    recs = sources.read_raw_multiline(
        spark, path, header_re=c.multiline_header).collect()
    assert len(recs) == 2
    first = next(r for r in recs if r.turn_idx == 0)
    assert first.text == ("login failed for user alice\n"
                          "Jan 10 00:00:02 web-01 cron: rotation complete\n"
                          "    at frame(F.java:1)")
    # the ship path picks the directive up from the rules file
    rp = tmp_path / "dir.rules"
    rp.write_text(rules_text)
    out = str(tmp_path / "out")
    res = pipeline.run(spark, source_path=path, out_dir=out,
                       rules_path=str(rp), buckets=4, groups=1,
                       source_format="multiline")
    assert res.total_rows_processed == 2
    routed = SinkSet(out_dir=out).read_routed(spark)
    assert routed.filter("action = 'count'").count() == 2
    # directive errors
    with pytest.raises(RuleSyntaxError, match="duplicate multiline"):
        compile_rules("multiline /a/\nmultiline /b/\n"
                      "rule x match /y/ ignore\n")
    with pytest.raises(RuleSyntaxError, match="bad multiline regex"):
        compile_rules("multiline /(/\nrule x match /y/ ignore\n")


APPLOG_RULES = "/root/repo/rules/applog.rules"


def test_extraction_template_parses_non_syslog_layout(spark, tmp_path):
    """Round-4 DSL extension: grok captures in the multiline directive
    extract canonical columns from a NON-syslog header layout."""
    from logparse_spark.rules import load_rules

    c = load_rules(APPLOG_RULES)
    assert dict(c.multiline_fields).keys() == {
        "conv_id", "role", "text", "tool", "ts"}
    assert c.multiline_ts_format == "yyyy-MM-dd HH:mm:ss"
    path = _write(tmp_path, "app.log", [
        "2026-03-14 09:00:01 ERROR [w-1] com.example.Foo: boom happened",
        "    at com.example.Foo.bar(Foo.java:10)",
        "",
        "\tcaused by: disk full",
        "2026-03-14 09:00:02 INFO [w-2] com.example.Bar: all fine",
    ])
    rows = {r.conv_id: r for r in sources.read_raw_multiline(
        spark, path, header_re=c.multiline_header,
        fields=c.multiline_fields,
        ts_format=c.multiline_ts_format).collect()}
    assert rows["w-1"].role == "ERROR"
    assert rows["w-1"].tool == "com.example.Foo"
    assert rows["w-1"].text == ("boom happened\n"
                                "    at com.example.Foo.bar(Foo.java:10)\n"
                                "\n\tcaused by: disk full")
    assert str(rows["w-1"].ts) == "2026-03-14 09:00:01"
    assert rows["w-2"].text == "all fine" and rows["w-2"].turn_idx == 0


def test_extraction_turn_idx_contiguous_per_conv(spark):
    """turn_idx from the (ts, text) window is dense 0..n-1 per conv."""
    from logparse_spark.fixtures.gen_applog import ensure_applog_fixture
    from logparse_spark.rules import load_rules

    c = load_rules(APPLOG_RULES)
    df = sources.read_raw_multiline(
        spark, ensure_applog_fixture("0.001"),
        header_re=c.multiline_header, fields=c.multiline_fields,
        ts_format=c.multiline_ts_format)
    bad = (df.groupBy("conv_id")
           .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"),
                F.min("turn_idx").alias("mn"),
                F.countDistinct("turn_idx").alias("d"))
           .filter("mn <> 0 OR mx <> n - 1 OR d <> n").count())
    assert bad == 0
    assert df.filter("ts IS NULL OR conv_id = ''").count() == 0


@pytest.mark.parametrize("split_bytes", [512, 4096])
def test_extraction_split_boundary_invariance(spark, split_bytes):
    """The extraction mode inherits assembly's scale property: forced
    tiny splits produce identical records to a whole-file read."""
    from logparse_spark.fixtures.gen_applog import ensure_applog_fixture
    from logparse_spark.rules import load_rules

    c = load_rules(APPLOG_RULES)
    path = ensure_applog_fixture("0.001")

    def read():
        return sorted(map(tuple, sources.read_raw_multiline(
            spark, path, header_re=c.multiline_header,
            fields=c.multiline_fields,
            ts_format=c.multiline_ts_format).collect()))

    whole = read()
    with _splits(spark, split_bytes):
        split = read()
    assert split == whole and len(whole) > 100


def test_extraction_through_pipeline_run(spark, tmp_path):
    """Ship path: pipeline.run(source_format=multiline) with an
    extraction-template rules file parses raw app logs straight
    through parse -> route -> commit, with the sum/count rules
    operating on the EXTRACTED text column."""
    from logparse_spark import pipeline
    from logparse_spark.fixtures.gen_applog import ensure_applog_fixture
    from logparse_spark.sinks import SinkSet

    out = str(tmp_path / "out")
    res = pipeline.run(
        spark, source_path=ensure_applog_fixture("0.001"),
        out_dir=out, rules_path=APPLOG_RULES, buckets=4, groups=1,
        source_format="multiline")
    assert res.total_rows_processed == 700
    routed = SinkSet(out_dir=out).read_routed(spark)
    sinks = {r["sink_id"] for r in
             routed.select("sink_id").distinct().collect()}
    assert {"timeouts", "requests", "jobfail"} <= sinks
    # the sum rule extracted numeric values from the folded text
    tot = routed.filter("sink_id = 'timeouts'") \
        .agg(F.sum(F.col("rendered").cast("long"))).first()[0]
    assert tot and tot > 0


def test_extraction_directive_errors():
    from logparse_spark.rules import RuleSyntaxError, compile_rules

    base = "rule x match /y/ ignore\n"
    with pytest.raises(RuleSyntaxError, match="canonical columns"):
        compile_rules("multiline /%{WORD:bogus} %{GREEDYDATA:text}/\n"
                      + base)
    with pytest.raises(RuleSyntaxError, match="must capture"):
        compile_rules("multiline /%{WORD:role}/\n" + base)
    with pytest.raises(RuleSyntaxError, match="go together"):
        compile_rules("multiline /%{WORD:ts} %{GREEDYDATA:text}/\n" + base)
    with pytest.raises(RuleSyntaxError, match="go together"):
        compile_rules('multiline /%{GREEDYDATA:text}/ ts "yyyy"\n' + base)
    with pytest.raises(RuleSyntaxError, match="requires"):
        compile_rules('multiline /plain/ ts "yyyy"\n' + base)
    # assembly-only directives keep working unchanged
    c = compile_rules("multiline /^HDR/\n" + base)
    assert c.multiline_header == "^HDR" and c.multiline_fields == ()


def test_multi_file_glob_ingest(spark, tmp_path):
    """LogParse takes several log files on the CLI; here a glob (or
    directory) does the same — per-FILE assembly (records never span
    files), per-host ordering across the union."""
    (tmp_path / "logs").mkdir()
    _write(tmp_path / "logs", "a.log", [
        HDRS[0], "    frame one",
    ])
    _write(tmp_path / "logs", "b.log", [
        "Jan 10 00:00:05 web-01 sshd[7]: second file event",
        "\tits continuation",
    ])
    out = sources.read_raw_multiline(spark, str(tmp_path / "logs" / "*.log"))
    rows = {r.turn_idx: r.text for r in
            out.filter(F.col("conv_id") == "web-01").collect()}
    # ts orders across files; assembly stayed within each file
    assert rows == {
        0: "login failed for user alice from 10.0.1.2\n    frame one",
        1: "second file event\n\tits continuation",
    }


def test_raw_ingest_through_pipeline_run(spark, tmp_path):
    """source_format='multiline': raw text straight through the full
    pipeline (parse -> enrich-less -> bucket -> fan-out write ->
    commit) in one call — the raw-ingest ship path."""
    from logparse_spark import pipeline
    from logparse_spark.fixtures.gen_multiline import ensure_multiline_fixture
    from logparse_spark.sinks import SinkSet

    path = ensure_multiline_fixture("0.001")
    out = str(tmp_path / "raw_out")
    res = pipeline.run(
        spark, source_path=path, out_dir=out,
        rules_path="/root/repo/rules/default.rules",
        buckets=8, groups=1, source_format="multiline")
    n_src = sources.read_raw_multiline(spark, path).count()
    assert res.total_rows_processed == n_src
    lineage = SinkSet(out_dir=out).lineage_df(spark)
    assert lineage.agg(F.sum("rows")).first()[0] == n_src
    # guards: auto sizing needs parquet metadata
    with pytest.raises(ValueError, match="auto"):
        pipeline.run(spark, source_path=path, out_dir=str(tmp_path / "x"),
                     buckets="auto", source_format="multiline")
    with pytest.raises(ValueError, match="source_format"):
        pipeline.run(spark, source_path=path, out_dir=str(tmp_path / "y"),
                     buckets=8, source_format="csv")


def _reference_assemble(lines):
    """20-line pure-Python model of the multiline rule: every line that
    matches the header regex starts a record; every other line joins
    the last header; leading orphans drop."""
    import re

    hdr = re.compile(sources.SYSLOG_RE)
    recs, cur = [], None
    for ln in lines:
        if hdr.match(ln):
            if cur is not None:
                recs.append(cur)
            cur = [ln]
        elif cur is not None:
            cur.append(ln)
    if cur is not None:
        recs.append(cur)
    return ["\n".join(r) for r in recs]


def test_assembly_matches_reference_model_property(spark, tmp_path):
    """Property test: random header/continuation/junk interleavings,
    read at an adversarially small split size, must equal the
    sequential pure-Python reference exactly."""
    from hypothesis import given, settings, strategies as st

    header = st.builds(
        lambda h, p, m: f"Jan 1{h % 9} 0{h % 10}:00:0{h % 10} host-{h % 4} prog[{p}]: {m}",
        st.integers(0, 8), st.integers(100, 999),
        st.text(alphabet="abcdef msg123", min_size=1, max_size=20),
    )
    cont = st.sampled_from([
        "    at a.b.c(D.java:1)", "\twrapped detail", "-- junk --",
        "not a header either", "  x", "",
    ])
    lines_strategy = st.lists(st.one_of(header, cont), min_size=1, max_size=40)

    case_n = [0]

    @settings(max_examples=12, deadline=None)
    @given(lines=lines_strategy)
    def check(lines):
        case_n[0] += 1
        p = tmp_path / f"prop_{case_n[0]}.log"
        p.write_text("\n".join(lines) + "\n")
        want = sorted(_reference_assemble(lines))
        with _splits(spark, 256):
            got = sorted(
                r["raw"] for r in
                sources.assemble_multiline(spark.read.text(str(p))).collect())
        assert got == want

    check()


def test_jsonl_corrupt_channel(spark, tmp_path):
    """keep_corrupt=True surfaces malformed lines in _corrupt (the
    dead-letter route) instead of landing silent all-null rows."""
    good = ('{"conv_id": "c1", "turn_idx": 0, "role": "user", '
            '"text": "hi", "tool": null, '
            '"ts": "2026-01-02 03:04:05.000001"}')
    p = tmp_path / "mixed.jsonl"
    p.write_text("\n".join([good, "{not json", good.replace("c1", "c2"),
                            '["wrong", "shape"]']) + "\n")
    df = sources.read_raw_jsonl(spark, str(p), keep_corrupt=True).cache()
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert bad.count() == 2
    assert {r["_corrupt"] for r in bad.collect()} == {
        "{not json", '["wrong", "shape"]'}
    ok = df.filter(F.col("_corrupt").isNull())
    assert {r["conv_id"] for r in ok.collect()} == {"c1", "c2"}
    assert ok.filter(F.col("ts").isNull()).count() == 0
    df.unpersist()
    # default path: no extra column
    assert "_corrupt" not in sources.read_raw_jsonl(spark, str(p)).columns


def test_multiline_through_pipeline(spark):
    """Assembled records flow through the standard dispatch: rules
    match on the HEADER line content (search semantics, '.' stops at
    newline) even with a folded stack trace appended."""
    from logparse_spark import stages
    from logparse_spark.fixtures.gen_multiline import ensure_multiline_fixture
    from logparse_spark.rules import load_rules

    rules = load_rules("/root/repo/rules/default.rules")
    path = ensure_multiline_fixture("0.001")
    df = sources.read_raw_multiline(spark, path)
    pdf = stages.parse_match(df, rules)
    counts = {r["sink_id"]: r["n"]
              for r in stages.sink_counts(stages.routed(pdf)).collect()}
    n_ignored = pdf.filter(F.col("action") == "ignore").count()
    assert sum(counts.values()) + n_ignored == df.count()
    assert len(counts) > 2


def test_extraction_matches_reference_model_property(spark, tmp_path):
    """Hypothesis property for the EXTRACTION mode: random app-log
    header/continuation/blank interleavings, read at adversarially
    small splits, must produce exactly the records and extracted
    fields of a sequential pure-Python reference."""
    import re as _re

    from hypothesis import given, settings, strategies as st

    from logparse_spark.rules import load_rules

    c = load_rules(APPLOG_RULES)
    hdr_re = _re.compile(c.multiline_header)
    fmap = dict(c.multiline_fields)

    header = st.builds(
        lambda m, w, lv, msg: (
            f"2026-03-14 09:{m // 60:02d}:{m % 60:02d} "
            f"{['INFO', 'ERROR'][lv]} [w-{w}] com.ex.C: {msg}"),
        st.integers(0, 3599), st.integers(0, 2), st.integers(0, 1),
        st.text(alphabet="abc msg12", min_size=1, max_size=12),
    )
    cont = st.sampled_from(
        ["    at a.b(C.java:1)", "\twrapped", "", "-- junk --"])
    case_n = [0]

    @settings(max_examples=10, deadline=None)
    @given(lines=st.lists(st.one_of(header, cont), min_size=1,
                          max_size=30))
    def check(lines):
        case_n[0] += 1
        p = tmp_path / f"xprop_{case_n[0]}.log"
        p.write_text("\n".join(lines) + "\n")
        # sequential reference: assemble, then extract per directive
        recs, cur = [], None
        for ln in lines:
            if hdr_re.match(ln):
                if cur is not None:
                    recs.append(cur)
                cur = [ln]
            elif cur is not None:
                cur.append(ln)
        if cur is not None:
            recs.append(cur)
        want = set()
        for r in recs:
            m = hdr_re.match(r[0])
            text = m.group(fmap["text"])
            # the engine composes text = msg [+ "\n" + joined-conts],
            # so a record whose continuations join to "" (none, or a
            # single blank line) renders as the bare message — the
            # same rule in Spark and the DuckDB oracle
            rest = "\n".join(r[1:])
            if rest != "":
                text += "\n" + rest
            want.add((m.group(fmap["conv_id"]), m.group(fmap["role"]),
                      text, m.group(fmap["tool"]), m.group(fmap["ts"])))
        with _splits(spark, 256):
            got = {
                (r.conv_id, r.role, r.text, r.tool,
                 r.ts.strftime("%Y-%m-%d %H:%M:%S"))
                for r in sources.read_raw_multiline(
                    spark, str(p), header_re=c.multiline_header,
                    fields=c.multiline_fields,
                    ts_format=c.multiline_ts_format).collect()}
        assert got == want

    check()


def test_extracted_frame_engines_agree(spark):
    """Both dispatch engines produce identical matches over the
    extraction-mode frame (multi-line text values included)."""
    from logparse_spark import stages
    from logparse_spark.fixtures.gen_applog import ensure_applog_fixture
    from logparse_spark.rules import load_rules

    c = load_rules(APPLOG_RULES)
    df = sources.read_raw_multiline(
        spark, ensure_applog_fixture("0.001"),
        header_re=c.multiline_header, fields=c.multiline_fields,
        ts_format=c.multiline_ts_format).cache()
    cols = ("conv_id", "turn_idx", "rule_name", "action", "count_key",
            "rendered")
    a = sorted(map(tuple, stages.parse_match(df, c, engine="udf")
                   .select(*cols).collect()))
    b = sorted(map(tuple, stages.parse_match(df, c, engine="sql")
                   .select(*cols).collect()))
    assert a == b and len(a) == 700
    df.unpersist()
