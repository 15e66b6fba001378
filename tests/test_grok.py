"""Grok pattern expansion + grok-rule dispatch parity (SURVEY.md §2.1 P1)."""

import re

import pytest

from logparse_spark import kernel
from logparse_spark.grok import GROK_LIBRARY, GrokError, _resolve, expand_grok
from logparse_spark.rules import RuleSyntaxError, compile_rules, compile_template


def test_expand_plain_and_named_tokens():
    p, fields = expand_grok(r"user %{USERNAME:u} from %{IPV4:ip} via %{WORD}")
    assert fields == {"u": 1, "ip": 2}
    m = re.compile(p).search("user bob.2 from 10.0.0.1 via ssh")
    assert m.group(1) == "bob.2" and m.group(2) == "10.0.0.1"


def test_group_numbering_interleaves_literal_groups():
    p, fields = expand_grok(r"(\w+)=%{INT:val} (x|y) %{WORD:tag}")
    assert fields == {"val": 2, "tag": 4}
    m = re.compile(p).search("k=-7 y zz")
    assert m.group(fields["val"]) == "-7"
    assert m.group(fields["tag"]) == "zz"


def test_recursive_library_resolution():
    # NUMBER -> BASE10NUM, TIMESTAMP_ISO8601 -> YEAR/MONTHNUM/... chains
    p, _ = expand_grok(r"^%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:lvl} %{NUMBER:n}$")
    m = re.compile(p).search("2026-08-17T12:03:04Z WARN 3.5")
    assert m is not None


def test_library_patterns_are_noncapturing_and_re2_safe():
    for name in GROK_LIBRARY:
        body = _resolve(name)
        assert re.compile(body).groups == 0, name
        assert kernel._re2_compatible(body), name


def test_errors():
    with pytest.raises(GrokError, match="unknown grok pattern"):
        expand_grok("%{NOPE:x}")
    with pytest.raises(GrokError, match="duplicate grok field"):
        expand_grok("%{WORD:a} %{WORD:a}")
    with pytest.raises(RuleSyntaxError, match="unknown grok"):
        compile_rules("rule r match /%{NOPE}/ ignore\n")


def test_named_template_tokens_resolve_unknown_stay_literal():
    t = compile_template("u={user} raw={9} keep={notafield}", named={"user": 3})
    assert ("grp", 3) in t.parts and ("grp", 9) in t.parts
    assert any(k == "lit" and "{notafield}" in str(v) for k, v in t.parts)


GROK_DSL = """\
rule heartbeat  match /^heartbeat ping seq=%{NONNEGINT}$/ ignore
rule authfail   match /login failed for user %{USERNAME:user} from %{IPV4:ip}/ count {user}
rule error      match /ERROR %{NONNEGINT:code}: %{GREEDYDATA:detail} in step %{NONNEGINT:step}/ report "err {code} step {step}: {detail}"
rule toolcall   on tool match /^%{WORD:fn}\\(arg=%{WORD:arg}\\)$/ count {fn}
"""

CLASSIC_DSL = """\
rule heartbeat  match /^heartbeat ping seq=\\d+$/ ignore
rule authfail   match /login failed for user (\\w+) from ([\\d.]+)/ count {1}
rule error      match /ERROR (\\d+): (.+) in step (\\d+)/ report "err {1} step {3}: {2}"
rule toolcall   on tool match /^(\\w+)\\(arg=(\\w+)\\)$/ count {1}
"""


def test_grok_kernel_matches_classic_rules():
    """Grok and classic spellings of one rule set dispatch identically
    through the Arrow kernel, and each equals the scalar oracle."""
    import pyarrow as pa

    from tests.oracle_ref import classify_row

    text = [
        "heartbeat ping seq=42",
        "login failed for user bob from 10.1.2.3",
        "ERROR 503: upstream returned 503 in step 7",
        "heartbeat ping seq=abc",          # near-miss -> unmatched
        "login failure for user b from 1.1.1.1",  # near-miss
        None,
    ]
    tool = [None, None, None, "calc(arg=x)", None, "bad("]
    got = {}
    for name, dsl in (("grok", GROK_DSL), ("classic", CLASSIC_DSL)):
        c = compile_rules(dsl)
        out = kernel.parse_and_match_arrow(
            pa.array(text, type=pa.string()), pa.array(tool, type=pa.string()),
            c, captures=True)
        got[name] = [a.to_pylist() for a in out]
        want = [classify_row(t, tl, c) for t, tl in zip(text, tool)]
        for col, arr in zip(("rule_id", "rendered", "captures"), got[name]):
            assert arr == [w[col] for w in want], (name, col)
    assert got["grok"] == got["classic"]
    assert got["grok"][1][2] == "err 503 step 7: upstream returned 503"


def test_network_and_weblog_patterns():
    """The round-3 library additions match their canonical shapes and
    reject near-misses (full-anchor semantics, like the dispatch
    kernel applies)."""
    cases = {
        "MAC": (["00:1a:2b:3c:4d:5e", "00-1A-2B-3C-4D-5E",
                 "001a.2b3c.4d5e"],
                ["00:1a:2b:3c:4d", "zz:1a:2b:3c:4d:5e"]),
        "IPV6": (["2001:db8:0:0:0:0:2:1", "2001:db8::2:1", "::1", "::",
                  "fe80::1ff:fe23:4567:890a"],
                 ["2001:db8:::1", "10.0.0.1", "words"]),
        "EMAILADDRESS": (["ops+alerts@svc-01.example.com",
                          "a.b_c@example.org"],
                         ["@example.com", "no-at-sign.example.com"]),
        "URI": (["https://example.com:8443/a/b?x=1&y=2",
                 "ftp://user:pw@host.example/a+b",
                 "https://10.0.0.1/"],
                ["notaproto//x", "http//missing.colon"]),
        "HTTPDATE": (["10/Oct/2000:13:55:36 -0700"],
                     ["10/13/2000:13:55:36 -0700"]),
        "COMBINEDAPACHELOG": (
            ['127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
             '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
             '"http://www.example.com/start.html" "Mozilla/4.08"'],
            ['127.0.0.1 frank "GET / HTTP/1.0" 200']),
    }
    for name, (good, bad) in cases.items():
        body, groups = expand_grok("%{" + name + "}")
        assert groups == {}
        rx = re.compile(body)
        for s in good:
            assert rx.fullmatch(s), (name, s)
        for s in bad:
            assert not rx.fullmatch(s), (name, s)


def test_weblog_composite_captures_in_rule_position():
    """A rule-level template pulls fields OUT of the capture-free
    composite: the classic apache clientip/status extraction."""
    body, groups = expand_grok(
        r'%{IPORHOST:clientip} %{USER} %{USER:user} \[%{HTTPDATE:ts}\] '
        r'"(?:%{WORD:verb} %{NOTSPACE:path}(?: HTTP/%{BASE10NUM})?|-)" '
        r"%{NONNEGINT:status} (?:%{NONNEGINT}|-)")
    rx = re.compile(body)
    m = rx.fullmatch(
        '10.1.2.3 - alice [10/Oct/2000:13:55:36 -0700] '
        '"POST /api/v1/turns HTTP/1.1" 201 512')
    assert m
    got = {f: m.group(i) for f, i in groups.items()}
    assert got == {"clientip": "10.1.2.3", "user": "alice",
                   "ts": "10/Oct/2000:13:55:36 -0700", "verb": "POST",
                   "path": "/api/v1/turns", "status": "201"}
