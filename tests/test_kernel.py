"""Unit tests: the Arrow kernel vs the scalar oracle (layer 2). No Spark."""

import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from logparse_spark import kernel
from logparse_spark.fixtures import gen_transcripts
from logparse_spark.kernel import parse_and_match_arrow
from logparse_spark.rules import compile_rules, load_rules
from tests.oracle_ref import classify_row

COMPILED = load_rules("/root/repo/rules/default.rules")


def _arrays(text, tool):
    return (pa.array(text, type=pa.string(), from_pandas=True),
            pa.array(tool, type=pa.string(), from_pandas=True))


def _names(rid, compiled):
    name = {r.rule_id: r.spec.name for r in compiled.rules}
    return [None if v is None else name[v] for v in rid.to_pylist()]


def _oracle(text, tool, compiled, col):
    return [classify_row(t, tl, compiled)[col] for t, tl in zip(text, tool)]


def _kernel_vs_oracle(text, tool, compiled=COMPILED):
    """captures=True path: rule_id, rendered AND the capture lists
    (a non-participating group is a null element) equal the oracle."""
    rid, rendered, caps = parse_and_match_arrow(
        *_arrays(text, tool), compiled, captures=True)
    assert rid.type == pa.int32() and caps.type == pa.list_(pa.string())
    assert rid.to_pylist() == _oracle(text, tool, compiled, "rule_id")
    assert rendered.to_pylist() == _oracle(text, tool, compiled, "rendered")
    assert caps.to_pylist() == _oracle(text, tool, compiled, "captures")


def _slim_vs_oracle(text, tool, compiled=COMPILED):
    """Default path (the slim UDF struct): exactly (rule_id, rendered),
    both equal to the oracle."""
    out = parse_and_match_arrow(*_arrays(text, tool), compiled)
    assert len(out) == 2
    rid, rendered = out
    assert rid.to_pylist() == _oracle(text, tool, compiled, "rule_id")
    assert rendered.to_pylist() == _oracle(text, tool, compiled, "rendered")


GOLDEN_TEXT = [
    "heartbeat ping seq=42",
    "heartbeat ping seq=42 trailing",          # anchor near-miss
    "login failed for user alice from 10.0.0.1",
    "prefix login failed for user bob from 1.2.3.4 suffix",  # search semantics
    "ERROR 503: upstream returned 503 in step 12",
    "error 503: lowercase in step 12",         # case-sensitive near-miss
    "nothing to see here",
    None,
]
GOLDEN_TOOL = [None, None, None, None, None, "exec(arg=x)", "exec(arg=x)", "calc(arg=v2)"]

RANDOM_TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
                                   whitelist_characters=".:=()"),
            max_size=60,
        ),
        st.sampled_from(GOLDEN_TEXT[:-1]),
    ),
    max_size=40,
)


def test_kernel_golden():
    _kernel_vs_oracle(GOLDEN_TEXT, GOLDEN_TOOL)


def test_first_match_wins_text_over_tool():
    # row matches both the 'authfail' text rule and the 'toolcall' tool rule:
    # file order says authfail (rule 1) beats toolcall (rule 3)
    text, tool = ["login failed for user x from 1.1.1.1"], ["shell(arg=full)"]
    rid, _, caps = parse_and_match_arrow(
        *_arrays(text, tool), COMPILED, captures=True)
    assert _names(rid, COMPILED) == ["authfail"]
    assert caps.to_pylist() == [["x", "1.1.1.1"]]


def test_kernel_on_fixture_sample():
    t = gen_transcripts(2_000, 100).to_pandas()
    _kernel_vs_oracle(t["text"].tolist(), t["tool"].tolist())
    # every fixture category appears
    rid, _ = parse_and_match_arrow(*_arrays(t["text"], t["tool"]), COMPILED)
    sink = {r.rule_id: r.sink_id for r in COMPILED.rules}
    assert {sink.get(v, "unmatched") for v in rid.to_pylist()} == {
        "ignored", "authfail", "error", "toolcall", "unmatched",
    }


@settings(max_examples=30, deadline=None)
@given(RANDOM_TEXTS)
def test_kernel_property_random_text(texts):
    _kernel_vs_oracle(texts, [None] * len(texts))


def test_arrow_kernel_golden():
    _slim_vs_oracle(GOLDEN_TEXT, GOLDEN_TOOL)


def test_arrow_kernel_first_match_wins():
    _slim_vs_oracle(["login failed for user x from 1.1.1.1"], ["shell(arg=full)"])


def test_arrow_kernel_on_fixture_sample():
    t = gen_transcripts(2_000, 100).to_pandas()
    _slim_vs_oracle(t["text"].tolist(), t["tool"].tolist())


@settings(max_examples=30, deadline=None)
@given(RANDOM_TEXTS)
def test_arrow_kernel_property_random_text(texts):
    _slim_vs_oracle(texts, [None] * len(texts))


def test_python_re_fallback_rules_match_oracle():
    """Lookahead is not RE2: that rule's match scan and extraction run
    on Python re, and the combined prescan is off for its field. Both
    outputs still equal the oracle, optional-group nulls included."""
    rules = compile_rules(
        "rule la match /user (\\w+)(?= in)( at \\d+)?/ count {1}\n"
        "rule num match /n=(\\d+)/ report \"n {1}\"\n"
    )
    assert not kernel._re2_compatible(rules.rules[0].spec.pattern)
    text = ["user bob in", "user bob out", "n=3", "user x in at 5", None]
    _kernel_vs_oracle(text, [None] * len(text), rules)
    _slim_vs_oracle(text, [None] * len(text), rules)


def test_backreference_rule_loads_and_matches_oracle():
    """A numbered backreference keeps the group it names capturing in
    the match-only pattern (it used to die as a bare re.error), and
    the kernel's captures still equal the oracle's — also for ``{0}``
    and for ``\\2``, which the whole-match wrap renumbers."""
    import pytest

    from logparse_spark.rules import RuleSyntaxError

    rules = compile_rules(
        "rule dup match /(\\w+) \\1 at (\\d+)?/ count {1}\n"
        "rule pair match /(\\w+)=(\\w+) \\2/ count {0}\n")
    text = ["foo foo at 3", "foo bar at 3", "x bar bar at ", None,
            "k=v v", "k=v k"]
    _kernel_vs_oracle(text, [None] * len(text), rules)
    _slim_vs_oracle(text, [None] * len(text), rules)
    # any other bad regex names its rule
    with pytest.raises(RuleSyntaxError, match="rule 'bad'"):
        compile_rules("rule bad match /(a)\\2/ count {1}\n")


def test_partition_invariant():
    # every row lands in exactly one bucket (SURVEY §5.2 property a)
    t = gen_transcripts(3_000, 150).to_pandas()
    rid, rendered = parse_and_match_arrow(
        *_arrays(t["text"], t["tool"]), COMPILED)
    assert len(rid) == len(rendered) == len(t)
    sink = {r.rule_id: r.sink_id for r in COMPILED.rules}
    by_sink = pd.Series([sink.get(v, "unmatched") for v in rid.to_pylist()])
    assert by_sink.notna().all()
    assert by_sink.value_counts().sum() == len(t)


def test_any_pattern_cache_not_fooled_by_id_reuse():
    """Regression (round-1 ADVICE): _ANY_PATTERN_CACHE was keyed by
    id(compiled); a GC'd CompiledRules whose id was reused by a NEW rule
    set served the OLD combined pre-scan pattern, silently routing
    matchable rows to unmatched. Content keying must make two rule sets
    with different patterns produce different pre-scan results even when
    objects are created/destroyed in sequence (the id-reuse window)."""
    import gc

    rules_a = compile_rules('rule a match /alpha (\\d+)/ count {1}\n')
    text, tool = _arrays(["beta 7", "alpha 7"], [None, None])
    rid_a, _ = parse_and_match_arrow(text, tool, rules_a)
    assert _names(rid_a, rules_a) == [None, "a"]
    del rules_a
    gc.collect()  # maximize chance the next compile reuses the freed id
    rules_b = compile_rules('rule b match /beta (\\d+)/ count {1}\n')
    rid_b, _ = parse_and_match_arrow(text, tool, rules_b)
    # under the id-keyed cache, the stale "alpha" pre-scan pattern marked
    # "beta 7" unmatchable and this row fell to unmatched (rule_name None)
    assert _names(rid_b, rules_b) == ["b", None]


def test_named_group_pattern_rewrites():
    """named_group_pattern: the RE2-extraction rewrite must name exactly
    the capturing groups, leaving escapes, classes, and (?: alone."""
    from logparse_spark.kernel import named_group_pattern as ngp

    assert ngp(r"a(\d+)b") == r"(?P<g0>a(?P<g1>\d+)b)"
    assert ngp(r"(?:x)(y)") == r"(?P<g0>(?:x)(?P<g2>y))".replace("g2", "g1")
    # escaped paren is a literal, not a group
    assert ngp(r"\((\w+)\)") == r"(?P<g0>\((?P<g1>\w+)\))"
    # ( inside a character class is a literal
    assert ngp(r"[(](\w)") == r"(?P<g0>[(](?P<g1>\w))"
    # []] / [^]] leading-]-is-literal forms must not close the class
    assert ngp(r"[]x](a)") == r"(?P<g0>[]x](?P<g1>a))"
    assert ngp(r"[^]x](a)") == r"(?P<g0>[^]x](?P<g1>a))"
    # pre-existing named groups: bail (index mapping would be ambiguous)
    assert ngp(r"(?P<x>\d+)") is None


def test_arrow_extraction_matches_python_re():
    """The extraction dispatcher must reproduce Python-re semantics on
    the DSL subset — multi-group, whole-match {0}, and crucially a NULL
    (not "") capture for a non-participating optional group, which raw
    RE2 extract_regex cannot represent."""
    import numpy as np

    from logparse_spark.kernel import _extract_groups, _extract_with_whole

    rules = compile_rules(
        "rule ssh match /Failed password for (invalid user )?(\\w+) from ([\\d.]+) port (\\d+)/ count {2}\n"
    )
    rule = rules.rules[0]
    rows = [
        "Failed password for invalid user eve from 9.8.7.6 port 22",
        "Failed password for root from 1.2.3.4 port 2222",
    ]
    ser = pd.Series(rows, dtype=object)
    got = _extract_groups(
        pa.array(rows, type=pa.string()),
        lambda pos: ser if pos is None else ser.iloc[np.asarray(pos)],
        rule,
    )
    want = _extract_with_whole(ser, rule)
    for j in range(rule.n_groups + 1):
        g = got.iloc[:, j].where(got.iloc[:, j].notna(), None).tolist()
        w = want.iloc[:, j].where(want.iloc[:, j].notna(), None).tolist()
        assert g == w, f"group {j}"
    assert got.iloc[1, 1] is None or got.iloc[1, 1] != got.iloc[1, 1]


def test_full_scan_and_gather_paths_agree(monkeypatch):
    """Both sides of the _FULL_SCAN_FRAC crossover must classify a
    fixture sample identically, and equal to the oracle (the threshold
    is a cost knob, never a semantics knob)."""
    t = gen_transcripts(3_000, 150).to_pandas()
    text, tool = t["text"].tolist(), t["tool"].tolist()

    monkeypatch.setattr(kernel, "_FULL_SCAN_FRAC", 0.0)  # always full scan
    _kernel_vs_oracle(text, tool)
    full = parse_and_match_arrow(*_arrays(text, tool), COMPILED, captures=True)
    monkeypatch.setattr(kernel, "_FULL_SCAN_FRAC", 2.0)  # always gather
    _kernel_vs_oracle(text, tool)
    gather = parse_and_match_arrow(*_arrays(text, tool), COMPILED, captures=True)
    assert all(f.equals(g) for f, g in zip(full, gather))


def test_first_match_wins_across_prescan_blocks(monkeypatch):
    """Block prescan must only SKIP rows a block cannot match — never
    reorder dispatch. With _BLOCK_SIZE=2, a row matching rules in two
    different blocks must still go to the earlier rule, and a row
    matching only a later block must reach it."""
    monkeypatch.setattr(kernel, "_BLOCK_SIZE", 2)
    monkeypatch.setattr(kernel, "_BLOCK_MIN_FRAC", 0.0)
    rules = compile_rules(
        "rule a match /alpha (\\d+)/ count {1}\n"
        "rule b match /beta/ ignore\n"
        "rule c match /gamma (\\w+)/ report \"g={1}\"\n"
        "rule d match /alpha/ ignore\n"          # shadowed by a for digits
        "rule e on tool match /^probe$/ count {0}\n"
    )
    text = ["alpha 7 gamma x",   # matches a (block 0) AND c,d (block 1) -> a
            "gamma y",           # only block 1 -> c
            "alpha seven",       # a's \d+ fails; d (block 1) claims
            "nothing",           # tool rule e claims via block 2
            "zilch"]
    tool = [None, None, None, "probe", None]
    rid, _ = parse_and_match_arrow(*_arrays(text, tool), rules)
    assert _names(rid, rules) == ["a", "c", "d", "e", None]
    _kernel_vs_oracle(text, tool, rules)
