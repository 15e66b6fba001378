"""Arrow UDF wrapper around the kernel + a pure-SQL dispatch alternative.

Exactly ONE JVM<->Python crossing per row batch (SURVEY.md §4
"vectorized execution"): all regex work — first-match dispatch, capture
extraction, template render — is fused into a single pyspark-4.1
scalar **arrow_udf** returning a slim struct, so Arrow RecordBatches
cross the boundary once and the kernel consumes Spark's Arrow buffers
directly (no arrow->pandas->arrow conversion).

The pure-SQL variant (``with_match_sql``) expresses the same
ordered first-match semantics as chained ``rlike`` CASE + ``regexp_extract``
— fully JVM-side/codegen, no Python at all. It is kept as an alternate
physical strategy (streaming uses it); the UDF is the default because
real LogParse rule sets lean on Perl-regex features Java regex lacks.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernel import parse_and_match_arrow
from .rules import CompiledRules, SINK_UNMATCHED, compile_rules, spark_case

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.IntegerType(), True),
        T.StructField("rendered", T.StringType(), True),
    ]
)

MATCH_COLUMNS = ["rule_id", "rule_name", "action", "sink_id", "count_key", "rendered"]

# slim struct + the P3 capture array ({1}..{n} regex groups, per rule)
CAPTURES_SCHEMA = T.StructType(
    [*MATCH_SCHEMA.fields,
     T.StructField("captures", T.ArrayType(T.StringType()), True)]
)


_WORKER_PLAN_CACHE: dict[str, CompiledRules] = {}


def _worker_plan(rules_source: str) -> CompiledRules:
    plan = _WORKER_PLAN_CACHE.get(rules_source)
    if plan is None:
        plan = compile_rules(rules_source)
        _WORKER_PLAN_CACHE[rules_source] = plan
    return plan


def _make_arrow_udf(compiled: CompiledRules, captures: bool):
    """Scalar **Arrow UDF** (pyspark 4.1 ``F.arrow_udf``) around
    ``kernel.parse_and_match_arrow``: Spark's Arrow batches reach the
    kernel as ``pa.Array`` directly and the RE2 match scan runs on the
    Arrow buffers themselves. The compiled plan travels as its rule
    SOURCE (recompiled lazily once per worker), so the closure stays
    tiny and immune to pickle quirks of compiled regexes.

    Unlike ``mapInArrow`` this keeps the scalar-UDF shape: non-input
    columns bypass Python JVM-side and column pruning still works."""
    rules_source = compiled.source_text
    schema = CAPTURES_SCHEMA if captures else MATCH_SCHEMA
    names = schema.fieldNames()

    @F.arrow_udf(schema)
    def parse_and_match(text: pa.Array, tool: pa.Array) -> pa.Array:
        plan = _worker_plan(rules_source)
        if isinstance(text, pa.ChunkedArray):  # defensive; scalar gets Array
            text, tool = text.combine_chunks(), tool.combine_chunks()
        cols = parse_and_match_arrow(text, tool, plan, captures=captures)
        return pa.StructArray.from_arrays(list(cols), names=names)

    # asNondeterministic is a *dedup barrier*, not a semantic statement:
    # without it, a Filter on a UDF output field makes Catalyst emit TWO
    # ArrowEvalPython nodes (one for the predicate, one for the
    # projection) and every row is regex-parsed twice. Marking the UDF
    # nondeterministic stops the optimizer from splitting/duplicating it.
    return parse_and_match.asNondeterministic()


def make_parse_and_match_arrow_udf(compiled: CompiledRules):
    """The slim (rule_id, rendered) UDF — the minimum bytes that must
    cross the JVM<->Python Arrow boundary. Everything else
    (rule_name/action/sink_id/count_key) is rule metadata derived
    JVM-side from rule_id (``attach_rule_metadata``)."""
    return _make_arrow_udf(compiled, captures=False)


def make_parse_and_match_captures_udf(compiled: CompiledRules):
    """The slim struct PLUS the raw capture array (list<string> of
    regex groups {1}..{n} of the winning rule, null for unmatched rows
    and group-less rules). The default pipeline never ships captures
    across the boundary because the rendered template already folds
    them in, but the raw array is part of the P3 operator surface —
    consumers that want their own formatting get the groups, not our
    rendering."""
    return _make_arrow_udf(compiled, captures=True)


def attach_match(df: DataFrame, m: Column) -> DataFrame:
    """Star-expand the slim (rule_id, rendered) struct onto df."""
    return df.withColumn("_m", m).select("*", "_m.*").drop("_m")


def attach_rule_metadata(df: DataFrame, compiled: CompiledRules) -> DataFrame:
    """Derive the constant-per-rule columns (rule_name, action,
    sink_id) from rule_id, then count_key, on a frame that already has
    (rule_id, rendered).

    Each is one literal ``CASE rule_id`` expression: no join, no
    metadata frame, so no Python-RDD job builds one and no broadcast
    ships it. Kept separate from ``attach_match`` so the pipeline can
    run it AFTER the bucket repartition: the exchange then carries only
    (rule_id int32, rendered) of the parse output — never the
    rule_name/action/sink_id strings, which are redundant with rule_id
    and cost ~20-25 bytes/row of shuffle+sort traffic."""
    def meta(name: str, value, default=None) -> Column:
        return F.expr(spark_case(
            "rule_id", {r.rule_id: value(r) for r in compiled.rules},
            default)).alias(name)

    # rule_id leads and the metadata follows the input's columns, a
    # stable order for readers that unpack rows by position
    out = df.select(
        "rule_id", *[c for c in df.columns if c != "rule_id"],
        meta("rule_name", lambda r: r.spec.name),
        meta("action", lambda r: r.spec.action, SINK_UNMATCHED),
        meta("sink_id", lambda r: r.sink_id, SINK_UNMATCHED))
    ck = F.when(F.col("action") == "count", F.col("rendered"))
    if "sum_key" in df.columns:
        # sum rules: the key crossed the exchange in its own column
        # (derived pre-shuffle by sum_key_col — see its docstring)
        ck = F.coalesce(ck, F.col("sum_key"))
    out = out.withColumn("count_key", ck.cast("string"))
    return out.drop("sum_key") if "sum_key" in df.columns else out


def _finish_match(df: DataFrame, compiled: CompiledRules, m: Column) -> DataFrame:
    """Shared tail of the UDF paths: star-expand the slim struct,
    derive rule metadata from rule_id, then count_key
    (sum-rule keys render here, while the source field is in scope)."""
    out = attach_match(df, m)
    sk = sum_key_col(compiled)
    if sk is not None:
        out = out.withColumn("sum_key", sk)
    return attach_rule_metadata(out, compiled)


def with_match_arrow(df: DataFrame, compiled: CompiledRules,
                     text_col: str = "text", tool_col: str = "tool") -> DataFrame:
    """df + MATCH_COLUMNS via the scalar Arrow UDF (default engine)."""
    udf = make_parse_and_match_arrow_udf(compiled)
    return _finish_match(df, compiled, udf(F.col(text_col), F.col(tool_col)))


def with_match_captures(df: DataFrame, compiled: CompiledRules,
                        text_col: str = "text", tool_col: str = "tool") -> DataFrame:
    """df + MATCH_COLUMNS + ``captures`` (the {n} array, end to end)."""
    udf = make_parse_and_match_captures_udf(compiled)
    return _finish_match(df, compiled, udf(F.col(text_col), F.col(tool_col)))


# ---------------------------------------------------------------------------
# Pure-SQL alternative (JVM-only): chained CASE on rlike, first match wins.
# ---------------------------------------------------------------------------

def _template_col(rule, col: Column, which: str = "template") -> Column:
    tmpl = rule.template if which == "template" else rule.key_template
    if tmpl is None:
        return F.lit(None).cast("string")
    pieces = []
    for kind, val in tmpl.parts:
        if kind == "lit":
            pieces.append(F.lit(val))
        else:
            pieces.append(F.regexp_extract(col, rule.spec.pattern, int(val)))
    return F.concat(*pieces) if len(pieces) > 1 else pieces[0]


def _rule_struct(r) -> Column:
    rendered = _template_col(r, F.col(r.spec.field))
    if r.spec.action == "count":
        ck = rendered  # key == payload by construction
    elif r.spec.action == "sum":
        # payload is the extracted VALUE; the grouping key renders from
        # its own template
        ck = _template_col(r, F.col(r.spec.field), which="key")
    else:
        ck = F.lit(None).cast("string")
    return F.struct(
        F.lit(r.rule_id).alias("rule_id"),
        F.lit(r.spec.name).alias("rule_name"),
        F.lit(r.spec.action).alias("action"),
        F.lit(r.sink_id).alias("sink_id"),
        ck.alias("count_key"),
        (rendered if r.spec.action != "ignore" else F.lit(None).cast("string")).alias("rendered"),
    )


def sum_key_col(compiled: CompiledRules) -> Column | None:
    """Per-rule CASE deriving a sum rule's grouping key JVM-side from
    the winning ``rule_id`` and the SOURCE field — evaluated while
    text/tool still exist (pre-shuffle), because the slim Arrow
    boundary carries only (rule_id, rendered=value) and a sum rule's
    key, unlike a count rule's, is not the payload. None when the rule
    set has no sum rules (the exchange then stays exactly as slim as
    before). Group-extraction agreement between this Java regex render
    and the kernel's RE2/Python render is pinned by the engine-equality
    tests."""
    expr: Column | None = None
    for r in compiled.rules:
        if r.spec.action != "sum":
            continue
        k = _template_col(r, F.col(r.spec.field), which="key")
        cond = F.col("rule_id") == r.rule_id
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr


def with_match_sql(df: DataFrame, compiled: CompiledRules) -> DataFrame:
    """Same output columns as ``with_match_arrow``, built from
    Catalyst expressions only — whole-stage-codegen end to end.

    ONE chained CASE producing the whole match struct: each rule's
    regex predicate is evaluated at most once per row (short-circuit
    first-match, like the kernel), instead of once per output column."""
    unmatched = F.struct(
        F.lit(None).cast("int").alias("rule_id"),
        F.lit(None).cast("string").alias("rule_name"),
        F.lit(SINK_UNMATCHED).alias("action"),
        F.lit(SINK_UNMATCHED).alias("sink_id"),
        F.lit(None).cast("string").alias("count_key"),
        F.col("text").alias("rendered"),
    )
    expr: Column | None = None
    for r in compiled.rules:
        col = F.col(r.spec.field)
        cond = col.isNotNull() & col.rlike(r.spec.pattern)
        branch = _rule_struct(r)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    assert expr is not None
    m = expr.otherwise(unmatched)
    return df.withColumn("_m", m).select("*", "_m.*").drop("_m")
