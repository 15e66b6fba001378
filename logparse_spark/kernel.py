"""Vectorized parse+match kernel on Arrow arrays (no Spark).

This is the single Python hot path of the engine (BASELINE.json:6: the
rule DSL "is compiled into vectorized pandas/Arrow UDFs ... with no
per-row Python"). It implements LogParse's ordered first-match rule
dispatch (SURVEY.md §3.1 step 3) as a loop over *rules* (a handful)
with a shrinking "unclaimed" row mask — never a loop over rows.

Per Arrow batch:
  prescan    = rows any rule could match (one combined RE2 alternation)
  for each rule in order:
      candidates = unclaimed prescan rows
      matched    = RE2 regex search on candidates (Arrow compute)
      extract capture groups + render templates on matched rows only

``parse_and_match_arrow`` returns ``(rule_id, rendered)``; with
``captures=True`` it also returns the winning rule's regex groups as a
``list<string>`` array. rule_name/action/sink_id/count_key are rule
metadata, derived back JVM-side from ``rule_id`` (udf.attach_rule_metadata).
"""

from __future__ import annotations

import re
import warnings

import numpy as np
import pandas as pd

import pyarrow as pa
import pyarrow.compute as pc

from .rules import BACKREF_RE, CompiledRule, CompiledRules


_RE2_OK_CACHE: dict[str, bool] = {}

# At/above this unclaimed fraction the per-rule match scans the FULL
# column and masks, instead of gathering candidates with pc.take first.
# Measured on the bench rule set (600k rows): a full-column RE2 scan
# costs ~0.036s while take+subset-scan costs ~0.06s at 90% selectivity —
# per-row, gather+scan ≈ 1.67x a plain scan, so the crossover sits near
# idx/n = 0.6. Log workloads keep most rows unclaimed until the late
# hot rules, so this removes the large string-array copies entirely.
_FULL_SCAN_FRAC = 0.6


def _re2_compatible(pattern: str) -> bool:
    """True when Arrow's RE2 engine accepts (and we may use) the
    pattern for the match phase. RE2 rejects backrefs/lookaround at
    compile time, so a one-element trial probe is a complete check;
    measured 4-5x faster than Python re for the match scan, with
    identical semantics on the supported subset (both are unanchored
    substring searches)."""
    ok = _RE2_OK_CACHE.get(pattern)
    if ok is None:
        try:
            pc.match_substring_regex(pa.array(["probe"]), pattern)
            ok = True
        except Exception:
            ok = False
        _RE2_OK_CACHE[pattern] = ok
    return ok


def named_group_pattern(pattern: str) -> str | None:
    """Rewrite unnamed capture groups to ``(?P<gN>``, wrap all as g0.

    Arrow's ``extract_regex`` returns one struct field per NAMED group
    and ignores unnamed ones, so extraction through RE2 needs this
    rewrite. The scanner tracks backslash escapes and character classes
    (including the ``[]]``/``[^]]`` literal-bracket forms) so a ``(``
    inside either never becomes a group. Returns None for patterns that
    already use named groups (g-name collisions would mis-map indices);
    those fall back to the Python-re extraction path.
    """
    if "(?P<" in pattern or "(?'" in pattern:
        return None
    out: list[str] = []
    i, n, g = 0, len(pattern), 0
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\" and i + 1 < n:
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
            out.append(c)
            i += 1
            # []] / [^]] : leading ] (after optional ^) is a literal
            if i < n and pattern[i] == "^":
                out.append("^")
                i += 1
            if i < n and pattern[i] == "]":
                out.append("]")
                i += 1
            continue
        if c == "(" and not pattern.startswith("(?", i):
            g += 1
            out.append(f"(?P<g{g}>")
            i += 1
            continue
        out.append(c)
        i += 1
    return "(?P<g0>" + "".join(out) + ")"


_NAMED_PAT_CACHE: dict[str, str | None] = {}


def _re2_extractable(pattern: str) -> str | None:
    """The named-group variant of ``pattern`` iff Arrow's RE2
    ``extract_regex`` accepts it, else None (Python-re fallback). Keyed by
    pattern SOURCE (a pure value), so entries can never go stale."""
    if pattern in _NAMED_PAT_CACHE:
        return _NAMED_PAT_CACHE[pattern]
    named = named_group_pattern(pattern)
    if named is not None:
        try:
            pc.extract_regex(pa.array(["probe"]), named)
        except Exception:
            named = None
    _NAMED_PAT_CACHE[pattern] = named
    return named


def _extract_groups_arrow(
    sub_pa: "pa.Array", rule: CompiledRule
) -> pd.DataFrame | None:
    """RE2 extraction: (whole, g1..gn) columns for rows of ``sub_pa``,
    or None when the pattern needs the Python-re fallback.

    Replaces pandas ``str.extract`` (row-at-a-time Python re) on the
    hot path — measured 1.42s -> ~0.1s per 600k-row batch on the bench
    rule set. Callers pass only rows already known to match, so no
    null structs come back."""
    named = _re2_extractable(rule.spec.pattern)
    if named is None:
        return None
    res = pc.extract_regex(sub_pa, named)
    return pd.DataFrame(
        {
            # struct_field (not .field): works on chunked results too
            j: pc.struct_field(res, f"g{j}").to_numpy(zero_copy_only=False)
            for j in range(rule.n_groups + 1)
        }
    )


def _extract_groups(sub_pa, rows_at, rule: CompiledRule) -> pd.DataFrame:
    """Extraction dispatcher: RE2 on the hot path, Python re where
    semantics demand it.

    RE2's extract_regex cannot distinguish a NON-PARTICIPATING group
    (e.g. an unexercised ``(...)?``) from a participating EMPTY match —
    both come back ""; Python re (and Perl, the reference semantics)
    yield null for the former. So: extract through RE2, then re-extract
    JUST the rows where any capture came back "" (rare: requires an
    optional or star group, or an empty-capable pattern) through the
    exact engine. Exact semantics at vectorized cost.

    ``rows_at(positions)`` lazily materializes the matched rows as a
    pandas Series — only paid on fallback/ambiguous rows."""
    groups = _extract_groups_arrow(sub_pa, rule)
    if groups is None:  # Python-re-only pattern
        return _extract_with_whole(rows_at(None), rule)
    if rule.n_groups > 0:
        amb = (groups.iloc[:, 1:] == "").any(axis=1).to_numpy(dtype=bool)
        if amb.any():
            pos = np.flatnonzero(amb)
            redo = _extract_with_whole(rows_at(pos), rule)
            groups.iloc[pos, :] = redo.to_numpy(dtype=object)
    return groups


def _extract_with_whole(target: pd.Series, rule: CompiledRule) -> pd.DataFrame:
    """Extract (whole_match, g1..gn) for rows of ``target``.

    Wraps the pattern in an outer group so ``{0}`` (whole match) renders
    without a second regex pass; the wrap shifts every group number by
    one, so numbered backreferences are shifted with it.
    """
    inner = BACKREF_RE.sub(
        lambda m: f"{m.group(1)}\\{int(m.group(2)) + 1}", rule.spec.pattern)
    whole_rx = re.compile("(" + inner + ")")
    return target.str.extract(whole_rx)


def _render(template, groups: pd.DataFrame) -> pd.Series:
    """Vectorized template render: groups col 0 = whole match, i = group i."""
    out: pd.Series | None = None
    for kind, val in template.parts:
        if kind == "lit":
            piece = pd.Series(val, index=groups.index, dtype=object)
        else:
            piece = groups.iloc[:, int(val)].fillna("").astype(object)
        out = piece if out is None else out + piece
    assert out is not None
    return out


def _any_patterns(compiled: CompiledRules) -> dict[str, str | None]:
    """Combined alternation pattern per field, or None when any rule of
    that field is not RE2-compatible (prefiltering then unsafe).

    RE2 compiles alternations into one DFA, so ONE pass with
    `(?:p1)|(?:p2)|...` answers "could any rule match this row" at
    roughly the cost of a single rule's scan. Rows failing it skip the
    whole per-rule loop — for log workloads where most lines match no
    rule (the unmatched bucket), that converts O(rules) scans per row
    into O(1). Capture groups are stripped (nogroup) — match-only.

    MEMOIZED ON THE COMPILED OBJECT itself (object.__setattr__ works on
    the frozen dataclass): the combined pattern is a pure function of
    the rule set, so storing it with the object makes the earlier bug
    classes unrepresentable — no process-global cache to grow without
    bound, no id()-keyed entries to go stale when a collected object's
    id is reused (which silently routed matchable rows to the unmatched
    bucket), and no per-batch cache-key construction."""
    got = getattr(compiled, "_any_patterns_memo", None)
    if got is None:
        got = {}
        from .rules import nogroup_pattern

        for field_name in ("text", "tool"):
            pats = [r.spec.pattern for r in compiled.rules
                    if r.spec.field == field_name]
            if not pats:
                got[field_name] = ""  # no rules -> nothing can match
            elif all(_re2_compatible(p) for p in pats):
                combined = "|".join(f"(?:{nogroup_pattern(p)})" for p in pats)
                got[field_name] = combined if _re2_compatible(combined) else None
            else:
                got[field_name] = None  # a non-RE2 rule -> no prefilter
        object.__setattr__(compiled, "_any_patterns_memo", got)
    return got


# Rules per block-prescan group. RE2 compiles an alternation of ~8
# patterns into one DFA scanned at near single-pattern cost, so one
# block scan replaces up to 8 per-rule scans for every row the block
# cannot match. Blocks follow RULE ORDER (they only ever SKIP rows a
# block's rules cannot match — never reorder dispatch).
_BLOCK_SIZE = 8

# Below this fraction of still-candidate rows, a block's full-column
# prescan costs more than the per-rule subset scans it would save.
_BLOCK_MIN_FRAC = 0.05


def _block_plans(compiled: CompiledRules) -> list:
    """[(rules_chunk, {field: combined_nogroup_pattern | ""})] per
    _BLOCK_SIZE rules, or (chunk, None) when any rule in the chunk is
    not RE2-compatible (that block then cannot pre-skip rows). Same
    memo-on-the-object pattern (and rationale) as _any_patterns."""
    got = getattr(compiled, "_block_plans_memo", None)
    if got is None:
        from .rules import nogroup_pattern

        got = []
        rules = compiled.rules
        for s in range(0, len(rules), _BLOCK_SIZE):
            chunk = rules[s : s + _BLOCK_SIZE]
            pats: dict[str, str] | None = {}
            for field_name in ("text", "tool"):
                fps = [r.spec.pattern for r in chunk
                       if r.spec.field == field_name]
                if not fps:
                    pats[field_name] = ""  # no rules on this field
                elif all(_re2_compatible(p) for p in fps):
                    comb = "|".join(f"(?:{nogroup_pattern(p)})" for p in fps)
                    if _re2_compatible(comb):
                        pats[field_name] = comb
                    else:
                        pats = None
                        break
                else:
                    pats = None
                    break
            got.append((chunk, pats))
        object.__setattr__(compiled, "_block_plans_memo", got)
    return got


def _block_mask(
    pats: dict[str, str], text_pa, tool_pa, n: int
) -> np.ndarray:
    """Rows that could match SOME rule of the block (full-column OR
    over the block's per-field combined patterns)."""
    bm = np.zeros(n, dtype=bool)
    for field_name, arr in (("text", text_pa), ("tool", tool_pa)):
        p = pats[field_name]
        if p:
            m = pc.fill_null(pc.match_substring_regex(arr, p), False)
            bm |= m.to_numpy(zero_copy_only=False).astype(bool)
    return bm


def parse_and_match_arrow(
    text_pa: "pa.Array", tool_pa: "pa.Array", compiled: CompiledRules,
    captures: bool = False,
) -> tuple:
    """The kernel: one Arrow batch in, ``(rule_id, rendered)`` out —
    rule_id int32 (null = unmatched), rendered string (report/count:
    the rendered template; unmatched: the original text; otherwise
    null). With ``captures=True`` a third array follows: the winning
    rule's regex groups {1}..{n} as ``list<string>`` (null for
    unmatched rows and group-less rules; a non-participating group is
    a null element, not "").

    The RE2 match scan runs directly on Spark's Arrow buffers (scalar
    arrow_udf path), so a batch never round-trips arrow->pandas->arrow;
    at 16+ parallel workers those two full string copies saturate
    memory bandwidth (measured 147k -> 93k rows/s/core). Only MATCHED
    subsets ever become Python objects, for capture extraction and
    template render."""
    n = len(text_pa)
    rule_id = np.full(n, -1, dtype=np.int32)
    rendered = np.full(n, None, dtype=object)
    unclaimed = np.ones(n, dtype=bool)
    cap_parts: list = []  # (hit rows, their list<string> groups)

    # combined-alternation pre-scan: rows that can match NO rule on
    # either field never enter the per-rule loop (they stay unclaimed
    # and fall straight through to the unmatched bucket)
    eligible = np.zeros(n, dtype=bool)
    anypats = _any_patterns(compiled)
    for field_name, arr in (("text", text_pa), ("tool", tool_pa)):
        pat = anypats[field_name]
        if pat is None:  # non-RE2 rule present: cannot prefilter
            eligible |= True
        elif pat:
            m = pc.fill_null(pc.match_substring_regex(arr, pat), False)
            eligible |= m.to_numpy(zero_copy_only=False).astype(bool)

    # pandas views for the rare non-RE2 rule and for extraction subsets
    text_pd: pd.Series | None = None
    tool_pd: pd.Series | None = None

    def _pd(on_text: bool) -> pd.Series:
        nonlocal text_pd, tool_pd
        if on_text:
            if text_pd is None:
                text_pd = text_pa.to_pandas().astype(object)
            return text_pd
        if tool_pd is None:
            tool_pd = tool_pa.to_pandas().astype(object)
        return tool_pd

    for chunk, bpats in _block_plans(compiled):
      remaining = unclaimed & eligible
      if not remaining.any():
          break
      bmask = None
      if bpats is not None and remaining.sum() >= _BLOCK_MIN_FRAC * n:
          # one ~single-scan-cost pass decides which rows ANY of this
          # block's rules could match (see _block_plans)
          bmask = _block_mask(bpats, text_pa, tool_pa, n)
          if not (remaining & bmask).any():
              continue
      for rule in chunk:
        candidates = unclaimed & eligible
        if bmask is not None:
            candidates &= bmask
        if not candidates.any():
            continue
        on_text = rule.spec.field == "text"
        arr = text_pa if on_text else tool_pa
        idx = np.flatnonzero(candidates)
        if _re2_compatible(rule.spec.pattern):
            if idx.size >= _FULL_SCAN_FRAC * n:
                # scan the whole column and mask: cheaper than gathering
                # a large candidate subset first (see _FULL_SCAN_FRAC)
                m = pc.fill_null(
                    pc.match_substring_regex(arr, rule.spec.pattern), False
                )
                full = m.to_numpy(zero_copy_only=False).astype(bool)
                hit = np.flatnonzero(full & candidates)
            else:
                sub = pc.take(arr, pa.array(idx))
                m = pc.fill_null(
                    pc.match_substring_regex(sub, rule.spec.pattern), False
                )
                hit = idx[m.to_numpy(zero_copy_only=False).astype(bool)]
        else:  # Python-regex-only feature (e.g. lookaround) fallback
            sub_pd = _pd(on_text).iloc[idx]
            with warnings.catch_warnings():
                # a backreference keeps its group capturing in
                # regex_search (rules.nogroup_pattern); match-only here
                warnings.filterwarnings(
                    "ignore", "This pattern is interpreted", UserWarning)
                hit = idx[sub_pd.str.contains(
                    rule.regex_search, na=False).to_numpy()]
        if hit.size == 0:
            continue
        rule_id[hit] = rule.rule_id
        unclaimed[hit] = False

        want_caps = captures and rule.n_groups > 0
        if rule.template is None and not want_caps:
            continue
        groups = _extract_groups(
            pc.take(arr, pa.array(hit)),
            lambda pos: _pd(on_text).iloc[hit if pos is None else hit[pos]],
            rule,
        )
        if rule.template is not None:
            rendered[hit] = _render(rule.template, groups).to_numpy(dtype=object)
        if want_caps:
            cap_parts.append((hit, _capture_lists(groups, rule.n_groups)))

    un = np.flatnonzero(unclaimed)
    if un.size:
        # unmatched payload = original text; slice arrow-side, small-ish
        rendered[un] = pc.take(text_pa, pa.array(un)).to_numpy(
            zero_copy_only=False
        )

    out = (
        pa.array(rule_id, mask=rule_id < 0),
        pa.array(rendered, type=pa.string(), from_pandas=True),
    )
    return out + (_place_captures(cap_parts, n),) if captures else out


def _capture_lists(groups: pd.DataFrame, k: int) -> "pa.ListArray":
    """Groups g1..gk of each extracted row as one ``list<string>``
    entry per row: the row-major flattened group matrix plus fixed
    offsets — no per-row Python. NaN (Python-re non-participating
    group) becomes a null element."""
    flat = groups.iloc[:, 1:].to_numpy(dtype=object).ravel()
    offsets = np.arange(0, len(groups) * k + 1, k, dtype=np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat, type=pa.string(), from_pandas=True)
    )


def _place_captures(parts: list, n: int) -> "pa.ListArray":
    """Scatter each rule's per-hit capture lists back to row order:
    one take over the concatenated parts; rows no part claims (the
    unmatched and group-less rows) take a null index -> null list."""
    if not parts:
        return pa.nulls(n, pa.list_(pa.string()))
    sel = np.full(n, -1, dtype=np.int64)
    off = 0
    for hit, _ in parts:
        sel[hit] = np.arange(off, off + hit.size)
        off += hit.size
    return pc.take(pa.concat_arrays([a for _, a in parts]),
                   pa.array(sel, mask=sel < 0))
