"""Rule DSL: parse + compile (driver-side, no Spark dependency).

The DSL re-expresses LogParse's config semantics (SURVEY.md §2.1 C1,
BASELINE.json:6 "rule DSL (regex patterns with IGNORE/COUNT/report
actions and field substitutions)"):

    rule NAME [on text|on tool] match /REGEX/ ignore
    rule NAME [on text|on tool] match /REGEX/ count {n}
    rule NAME [on text|on tool] match /REGEX/ report "TEMPLATE with {n}"

- Rules are ORDERED; dispatch is first-match-wins across the whole list
  (text-rules and tool-rules interleaved in file order), matching the
  reference's per-line ordered rule scan.
- ``match /REGEX/`` uses *search* (unanchored) semantics, like Perl's
  ``=~ /pat/``; anchor explicitly with ``^``/``$``. A trailing ``i``
  (``match /REGEX/i``) makes the rule case-insensitive, like Perl's
  ``/pat/i`` — compiled as a scoped ``(?i:...)`` so every engine
  (Python re, RE2, Spark SQL, the DuckDB oracle) agrees.
- ``{n}`` in a count key or report template substitutes regex capture
  group *n* (1-based). ``{0}`` substitutes the whole match.

Everything here is plain Python so it unit-tests without a JVM.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .grok import expand_grok

VALID_FIELDS = ("text", "tool")
VALID_ACTIONS = ("ignore", "count", "report", "sum")

# Reserved sink ids that no rule may claim.
SINK_IGNORED = "ignored"
SINK_UNMATCHED = "unmatched"

_RULE_RE = re.compile(
    r"""^rule\s+(?P<name>\w+)
        (?:\s+on\s+(?P<field>text|tool))?
        \s+match\s+/(?P<pattern>(?:[^/\\]|\\.)*)/(?P<flags>i?)
        \s+(?P<action>ignore|count|report|sum)
        (?:\s+(?P<rest>.*))?$""",
    re.VERBOSE,
)

_TEMPLATE_TOKEN_RE = re.compile(r"\{(\d+|[A-Za-z]\w*)\}")


class RuleSyntaxError(ValueError):
    """Raised for malformed rule DSL input (with line number context)."""


@dataclass(frozen=True)
class RuleSpec:
    """One parsed rule stanza, in file order."""

    rule_id: int
    name: str
    field: str          # "text" | "tool"
    pattern: str        # regex source (grok tokens already expanded)
    action: str         # "ignore" | "count" | "report" | "sum"
    template: str | None  # count key / report template; sum VALUE ("{n}")
    # grok %{NAME:field} captures: (field, capture group number), in order
    named_groups: tuple[tuple[str, int], ...] = ()
    # sum only: grouping-key template (defaults to the rule name — one
    # accumulator per rule, the LogParse per-rule counter shape)
    key_template: str | None = None
    # count/sum: report-stage threshold — keys whose aggregate is below
    # it are folded out of the rendered summary (logwatch-style noise
    # floor); never filters routed rows, only the report
    min_agg: int | None = None
    # count/sum: report-stage cap — only the N highest-aggregate keys
    # render for this rule (`top N`, the logwatch "top offenders"
    # shape); like min_agg it never filters routed rows
    top_k: int | None = None


@dataclass(frozen=True)
class CompiledTemplate:
    """A ``{n}``-substitution template split into literal/group parts.

    ``parts`` is a tuple of ``("lit", s)`` and ``("grp", n)`` items;
    rendering is a vectorized string concat over capture columns.
    """

    source: str
    parts: tuple[tuple[str, object], ...]
    max_group: int

    def render_row(self, whole: str, groups: list[str | None]) -> str:
        """Scalar render (used by tests and the pandas oracle)."""
        out: list[str] = []
        for kind, val in self.parts:
            if kind == "lit":
                out.append(val)  # type: ignore[arg-type]
            elif val == 0:
                out.append(whole or "")
            else:
                g = groups[val - 1] if val - 1 < len(groups) else None  # type: ignore[operator]
                out.append("" if g is None else str(g))
        return "".join(out)


_OPEN_GROUP_RE = re.compile(r"(?<!\\)\((?!\?)")


# a numbered backreference (\1 .. \99) that is not itself escaped: the
# group it names must stay capturing. Group 1 is the even run of
# escaped backslashes before it, group 2 the group number.
BACKREF_RE = re.compile(r"(?<!\\)((?:\\\\)*)\\([1-9][0-9]?)")


def nogroup_pattern(pattern: str) -> str:
    """Rewrite capture groups to non-capturing (for match-only passes).
    A pattern with a numbered backreference is returned unchanged: the
    rewrite would orphan the group the reference names."""
    if BACKREF_RE.search(pattern):
        return pattern
    return _OPEN_GROUP_RE.sub("(?:", pattern)


@dataclass(frozen=True)
class CompiledRule:
    spec: RuleSpec
    regex: re.Pattern
    regex_search: re.Pattern  # non-capturing variant, match-only pass
    template: CompiledTemplate | None
    n_groups: int
    key_template: CompiledTemplate | None = None  # sum rules only

    @property
    def rule_id(self) -> int:
        return self.spec.rule_id

    @property
    def sink_id(self) -> str:
        """Ignored rows share one sink; count/report rules own one each."""
        return SINK_IGNORED if self.spec.action == "ignore" else self.spec.name


@dataclass(frozen=True)
class CompiledRules:
    """The full compiled plan: ordered rules + derived metadata."""

    rules: tuple[CompiledRule, ...]
    source_text: str = field(default="", compare=False)
    # optional `multiline /RE/` directive: which raw lines START a
    # record in multiline source mode. Plain RE = assembly only; grok
    # %{PAT:field} captures make it an EXTRACTION template too (see
    # parse_rules / _parse_config)
    multiline_header: str | None = None
    # (canonical_field, capture_group) pairs from the directive's grok
    # captures; empty = assembly-only (syslog extraction)
    multiline_fields: tuple[tuple[str, int], ...] = ()
    # Java datetime format for the directive's ts field (the `ts "FMT"`
    # clause); required iff a ts capture is present
    multiline_ts_format: str | None = None

    @property
    def sink_ids(self) -> list[str]:
        """All sink ids in deterministic (rule, then catch-all) order."""
        out: list[str] = []
        for r in self.rules:
            if r.sink_id not in out:
                out.append(r.sink_id)
        if SINK_IGNORED not in out:
            out.append(SINK_IGNORED)
        out.append(SINK_UNMATCHED)
        return out

    @property
    def max_groups(self) -> int:
        return max((r.n_groups for r in self.rules), default=0)

    def by_name(self, name: str) -> CompiledRule:
        for r in self.rules:
            if r.spec.name == name:
                return r
        raise KeyError(name)


def compile_template(
    source: str, named: dict[str, int] | None = None
) -> CompiledTemplate:
    """Compile a ``{n}`` / ``{field}`` template.

    ``named`` maps grok field names to capture group numbers. A
    ``{word}`` token that is not a known field stays a literal (the
    pre-grok behavior for templates containing incidental braces).
    """
    parts: list[tuple[str, object]] = []
    max_group = 0
    pos = 0
    for m in _TEMPLATE_TOKEN_RE.finditer(source):
        tok = m.group(1)
        if tok.isdigit():
            n = int(tok)
        elif named and tok in named:
            n = named[tok]
        else:
            continue  # unknown name: leave as literal text
        if m.start() > pos:
            parts.append(("lit", source[pos : m.start()]))
        max_group = max(max_group, n)
        parts.append(("grp", n))
        pos = m.end()
    if pos < len(source):
        parts.append(("lit", source[pos:]))
    if not parts:
        parts.append(("lit", ""))
    return CompiledTemplate(source=source, parts=tuple(parts), max_group=max_group)


_MULTILINE_RE = re.compile(
    r'^multiline\s+/((?:[^/\\]|\\.)*)/(?:\s+ts\s+"([^"]*)")?$')

# canonical columns a multiline extraction template may capture
MULTILINE_FIELDS = ("conv_id", "role", "text", "tool", "ts")


def parse_rules(text: str) -> list[RuleSpec]:
    """Parse DSL text into an ordered list of RuleSpec (C1)."""
    return _parse_config(text)[0]


def _parse_config(
    text: str,
) -> tuple[list[RuleSpec],
           tuple[str, tuple[tuple[str, int], ...], str | None] | None]:
    """Rules plus the optional multiline directive:

        multiline /RE/ [ts "JAVA_DATETIME_FORMAT"]

    In multiline source mode, only lines matching RE START a record —
    everything else folds into the preceding one. A plain RE controls
    ASSEMBLY only (field extraction stays the syslog layout, so such
    a directive must select syslog-shaped lines — refinement, e.g.
    only certain programs open records). With grok ``%{PAT:field}``
    captures, the directive is ALSO the header EXTRACTION template
    for non-syslog layouts: fields may be conv_id / role / text /
    tool / ts (``text`` required — it anchors the record body; the
    rest default sensibly), and a ``ts`` capture requires the
    ``ts "FMT"`` clause naming its Java datetime format."""
    specs: list[RuleSpec] = []
    names: set[str] = set()
    multiline: tuple[str, tuple[tuple[str, int], ...], str | None] | None \
        = None
    for lineno, raw in enumerate(text.splitlines(), start=1):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        mm = _MULTILINE_RE.match(line)
        if mm:
            if multiline is not None:
                raise RuleSyntaxError(
                    f"line {lineno}: duplicate multiline directive")
            pat, ts_fmt = mm.group(1), mm.group(2)
            fields: dict[str, int] = {}
            if "%{" in pat:
                try:
                    pat, fields = expand_grok(pat)
                except ValueError as e:
                    raise RuleSyntaxError(f"line {lineno}: {e}") from e
            if fields:
                bad = [f for f in fields if f not in MULTILINE_FIELDS]
                if bad:
                    raise RuleSyntaxError(
                        f"line {lineno}: multiline captures {bad} are not "
                        f"canonical columns {MULTILINE_FIELDS}")
                if "text" not in fields:
                    raise RuleSyntaxError(
                        f"line {lineno}: a multiline extraction template "
                        f"must capture %{{...:text}} (the record body)")
                if ("ts" in fields) != (ts_fmt is not None):
                    raise RuleSyntaxError(
                        f"line {lineno}: a %{{...:ts}} capture and the "
                        f'ts "FMT" clause go together (got '
                        f"{'capture without format' if 'ts' in fields else 'format without capture'})")
            elif ts_fmt is not None:
                raise RuleSyntaxError(
                    f"line {lineno}: ts \"FMT\" requires a %{{...:ts}} "
                    f"capture in the multiline regex")
            try:
                re.compile(pat)
            except re.error as e:
                raise RuleSyntaxError(
                    f"line {lineno}: bad multiline regex: {e}") from e
            # the directive ALWAYS executes JVM-side (rlike assembly,
            # regexp_extract extraction) — Python-only syntax must
            # fail here, not deep inside the Spark job
            bad_ctor = check_java_portable(pat)
            if bad_ctor is not None:
                raise RuleSyntaxError(
                    f"line {lineno}: multiline regex uses {bad_ctor!r}, "
                    f"a Python-only construct — the directive runs "
                    f"JVM-side (Java regex); use numeric groups / grok "
                    f"fields or Java syntax")
            multiline = (pat, tuple(fields.items()), ts_fmt)
            continue
        m = _RULE_RE.match(line)
        if not m:
            raise RuleSyntaxError(f"line {lineno}: cannot parse rule: {line!r}")
        name = m.group("name")
        if name in names:
            raise RuleSyntaxError(f"line {lineno}: duplicate rule name {name!r}")
        if name in (SINK_IGNORED, SINK_UNMATCHED):
            raise RuleSyntaxError(f"line {lineno}: rule name {name!r} is reserved")
        names.add(name)
        fieldname = m.group("field") or "text"
        action = m.group("action")
        rest = (m.group("rest") or "").strip()
        template: str | None = None
        key_template: str | None = None
        min_agg: int | None = None
        top_k: int | None = None
        if action == "ignore":
            if rest:
                raise RuleSyntaxError(f"line {lineno}: ignore takes no template")
        elif action == "count":
            try:
                rest, min_agg, top_k = _split_tail_opts(rest)
            except RuleSyntaxError as e:
                raise RuleSyntaxError(f"line {lineno}: {e}") from e
            # key template; bare "{1}" or quoted "...{1}..."
            if not rest:
                raise RuleSyntaxError(f"line {lineno}: count needs a key template")
            template = _unquote(rest)
        elif action == "sum":
            # sum {n} [key "TEMPLATE"] [min N] [top N] — {n} is the
            # numeric VALUE capture; the key defaults to one
            # accumulator per rule (rendered under the rule's name)
            try:
                rest, min_agg, top_k = _split_tail_opts(rest)
            except RuleSyntaxError as e:
                raise RuleSyntaxError(f"line {lineno}: {e}") from e
            ms = re.match(
                r'^\{(\d+|[A-Za-z]\w*)\}(?:\s+key\s+(?P<key>".*"|\S+))?$',
                rest)
            if not ms or (ms.group(1).isdigit() and int(ms.group(1)) < 1):
                raise RuleSyntaxError(
                    f"line {lineno}: sum needs a value group "
                    f'(sum {{n}} [key "TEMPLATE"] [min N]; n a group '
                    f"number or grok field name): {rest!r}")
            template = "{" + ms.group(1) + "}"
            key_template = _unquote(ms.group("key")) if ms.group("key") \
                else name
        elif action == "report":
            if not (rest.startswith('"') and rest.endswith('"') and len(rest) >= 2):
                raise RuleSyntaxError(f"line {lineno}: report needs a quoted template")
            template = _unquote(rest)
        pattern = m.group("pattern")
        named_groups: tuple[tuple[str, int], ...] = ()
        if "%{" in pattern:
            try:
                pattern, fields = expand_grok(pattern)
            except ValueError as e:
                raise RuleSyntaxError(f"line {lineno}: {e}") from e
            named_groups = tuple(fields.items())
        if m.group("flags"):
            # Perl-style /i: wrapped as a SCOPED inline flag, which all
            # four engines in play (Python re, RE2-on-Arrow, Spark's
            # Java regex, the DuckDB oracle) accept anywhere in a
            # pattern — unlike the global (?i) form, which Python
            # rejects mid-expression when rules are alternated into the
            # combined prescan. Non-capturing, so group numbers hold.
            pattern = "(?i:" + pattern + ")"
        specs.append(
            RuleSpec(
                rule_id=len(specs),
                name=name,
                field=fieldname,
                pattern=pattern,
                action=action,
                template=template,
                named_groups=named_groups,
                key_template=key_template,
                min_agg=min_agg,
                top_k=top_k,
            )
        )
    return specs, multiline


def _split_tail_opts(rest: str) -> tuple[str, int | None, int | None]:
    """Strip trailing ``min N`` / ``top N`` clauses (either order).
    Never reaches inside a quoted template (a rest ending in ``"``
    has no trailing clause). Returns (rest, min_agg, top_k)."""
    min_agg: int | None = None
    top_k: int | None = None
    while not rest.endswith('"'):
        m = re.search(r"\s+(min|top)\s+(\d+)$", rest)
        if not m:
            break
        kind, val = m.group(1), int(m.group(2))
        if kind == "min":
            if min_agg is not None:
                raise RuleSyntaxError(f"duplicate min clause: {rest!r}")
            min_agg = val
        else:
            if top_k is not None:
                raise RuleSyntaxError(f"duplicate top clause: {rest!r}")
            if val < 1:
                raise RuleSyntaxError(f"top must be >= 1: {rest!r}")
            top_k = val
        rest = rest[: m.start()].strip()
    return rest, min_agg, top_k


def _unquote(s: str) -> str:
    if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
        s = s[1:-1]
    return s.replace('\\"', '"')


# Python-re-only syntax that Java's regex engine (Spark's
# regexp_extract) rejects outright: (?P<name>…) named groups,
# (?P=name) named backrefs, (?(id)…) conditionals, (?#…) comments.
# A sum rule's grouping key ALWAYS renders through Java
# regexp_extract pre-shuffle (udf.sum_key_col) regardless of which
# Python kernel ran the match, so these must fail at compile time —
# not throw (or silently diverge) deep inside the job. Residual
# caveat, documented not detected: \d/\w/\s match Unicode classes
# under a Python-re kernel fallback but ASCII under Java/RE2; the
# fixture patterns and the RE2 default keep the engines agreeing,
# and RE2-incompatible patterns (backrefs/lookaround) are where the
# divergence could bite — use explicit classes ([0-9] etc.) there.
_JAVA_REJECTED_RE = re.compile(r"\(\?P[<=]|\(\?\(|\(\?#")


def check_java_portable(pattern: str) -> str | None:
    """The first Java-regex-rejected construct in ``pattern``, or None
    when the pattern is (syntactically) Java-portable."""
    m = _JAVA_REJECTED_RE.search(pattern)
    return m.group(0) if m else None


def compile_rules(text: str) -> CompiledRules:
    """Parse + compile DSL text into the immutable broadcastable plan."""
    compiled: list[CompiledRule] = []
    specs, multiline = _parse_config(text)
    for spec in specs:
        try:
            rx = re.compile(spec.pattern)
            rx_search = re.compile(nogroup_pattern(spec.pattern))
        except re.error as e:
            raise RuleSyntaxError(f"rule {spec.name!r}: bad regex: {e}") from e
        if spec.action == "sum":
            bad = check_java_portable(spec.pattern)
            if bad is not None:
                raise RuleSyntaxError(
                    f"rule {spec.name!r}: sum-rule pattern uses "
                    f"{bad!r}, a Python-only regex construct — the sum "
                    f"grouping key renders JVM-side (Java regex), which "
                    f"rejects it; use numeric groups / grok fields or "
                    f"Java syntax ((?<name>…))"
                )
        tmpl = (
            compile_template(spec.template, named=dict(spec.named_groups))
            if spec.template is not None
            else None
        )
        if tmpl is not None and tmpl.max_group > rx.groups:
            raise RuleSyntaxError(
                f"rule {spec.name!r}: template references group "
                f"{tmpl.max_group} but pattern has {rx.groups}"
            )
        ktmpl = (
            compile_template(spec.key_template, named=dict(spec.named_groups))
            if spec.key_template is not None
            else None
        )
        if ktmpl is not None and ktmpl.max_group > rx.groups:
            raise RuleSyntaxError(
                f"rule {spec.name!r}: key template references group "
                f"{ktmpl.max_group} but pattern has {rx.groups}"
            )
        compiled.append(
            CompiledRule(
                spec=spec,
                regex=rx,
                regex_search=rx_search,
                template=tmpl,
                n_groups=rx.groups,
                key_template=ktmpl,
            )
        )
    return CompiledRules(
        rules=tuple(compiled), source_text=text,
        multiline_header=multiline[0] if multiline else None,
        multiline_fields=multiline[1] if multiline else (),
        multiline_ts_format=multiline[2] if multiline else None,
    )


def load_rules(path: str | list[str] | tuple[str, ...]) -> CompiledRules:
    """Compile one rule file, or SEVERAL composed in order — the
    LogParse CLI shape (multiple config files on the command line,
    scanned as one ordered list, first match wins across all of them).
    Duplicate rule names across files raise, same as within one file."""
    paths = [path] if isinstance(path, str) else list(path)
    texts = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            texts.append(f.read())
    return compile_rules("\n".join(texts))


# ---------------------------------------------------------------------------
# SQL generation: the same ordered first-match dispatch as an ANSI CASE chain.
# Used both for the pure-SQL Spark alternative (SURVEY §2.1 P2) and the
# DuckDB oracle (driver correctness gate).
# ---------------------------------------------------------------------------

def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# Spark SQL fragments over literal lists, for ``F.expr``: one string is
# one py4j call, where the Column API (``isin``, chained ``when``) makes
# one per literal (~0.8 ms each).

def spark_lit(v: str | int) -> str:
    """A Spark SQL literal. A string travels as its hex-encoded UTF-8
    bytes cast back to a string, so none needs quoting; the optimizer
    folds the cast."""
    if isinstance(v, str):
        return f"cast(X'{v.encode('utf-8').hex()}' as string)"
    return str(int(v))


def spark_in(col: str, values) -> str:
    """``col IN (values)``; ``false`` for no values."""
    values = list(values)
    if not values:
        return "false"
    return f"{col} IN ({', '.join(map(spark_lit, values))})"


def spark_case(col: str, mapping: dict, default: str | int | None = None) -> str:
    """``CASE col WHEN k THEN v ... ELSE default END`` over literal keys
    and values; a string NULL stands for an absent default."""
    whens = " ".join(f"WHEN {spark_lit(k)} THEN {spark_lit(v)}"
                     for k, v in mapping.items())
    other = "cast(NULL as string)" if default is None else spark_lit(default)
    return f"CASE {col} {whens} ELSE {other} END" if whens else other


def dispatch_case_sql(rules: CompiledRules, dialect: str = "duckdb",
                      text_col: str = "text", tool_col: str = "tool",
                      output: str = "sink_id") -> str:
    """Emit the ordered first-match dispatch as a CASE expression.

    ``output``: "sink_id" | "rule_name" | "action" | "rule_id".
    Dialects: "duckdb" (regexp_matches = search) and "spark"
    (``rlike`` = search). Patterns in the fixture DSL are RE2/Java/PCRE
    compatible (\\d \\w [..] anchors only).
    """
    matcher = "regexp_matches" if dialect == "duckdb" else "rlike_unused"
    branches: list[str] = []
    for r in rules.rules:
        col = text_col if r.spec.field == "text" else tool_col
        pat = _sql_quote(r.spec.pattern)
        if dialect == "duckdb":
            cond = f"{col} IS NOT NULL AND {matcher}({col}, {pat})"
        else:
            cond = f"{col} IS NOT NULL AND {col} RLIKE {pat}"
        if output == "sink_id":
            val = _sql_quote(r.sink_id)
        elif output == "rule_name":
            val = _sql_quote(r.spec.name)
        elif output == "action":
            val = _sql_quote(r.spec.action)
        else:
            val = str(r.rule_id)
        branches.append(f"WHEN {cond} THEN {val}")
    if output == "sink_id":
        default = _sql_quote(SINK_UNMATCHED)
    elif output == "rule_name":
        default = "NULL"
    elif output == "action":
        default = _sql_quote(SINK_UNMATCHED)
    else:
        default = "NULL"
    body = " ".join(branches)
    return f"CASE {body} ELSE {default} END"


def template_sql(rule: CompiledRule, dialect: str = "duckdb",
                 text_col: str = "text", tool_col: str = "tool",
                 which: str = "template") -> str:
    """Emit a rule's template render as a SQL concat of regexp_extract calls.

    Only valid on rows already known to match the rule's pattern.
    ``which``: "template" (count key / report / sum value) or "key"
    (a sum rule's grouping-key template).
    """
    col = text_col if rule.spec.field == "text" else tool_col
    pat = _sql_quote(rule.spec.pattern)
    tmpl = rule.template if which == "template" else rule.key_template
    if tmpl is None:
        return "''"
    pieces: list[str] = []
    for kind, val in tmpl.parts:
        if kind == "lit":
            pieces.append(_sql_quote(val))  # type: ignore[arg-type]
        else:
            pieces.append(f"regexp_extract({col}, {pat}, {val})")
    if len(pieces) == 1:
        return pieces[0]
    return "(" + " || ".join(pieces) + ")" if dialect == "duckdb" else "concat(" + ", ".join(pieces) + ")"
