"""Mergeable sketch aggregates — the approximate-analytics layer a
10^12-turn dashboard actually runs on.

Exact distincts over 100 TB are a full shuffle of every key, every
time someone changes the rollup grain. The sketch pattern inverts the
cost: ONE pass builds a tiny Apache DataSketches HLL sketch per finest
grain (sink x day here — KBs per cell), and every coarser question
(per sink, per week, all-time, any ad-hoc slice) is answered by
MERGING stored sketches — `hll_union_agg` — without touching the
source again. Unioning HLL sketches is an element-wise register max,
but the estimate is layout-invariant only while a cell is still in
the sketch's exact (list/set) mode: once it passes into HLL mode, the
estimator's state depends on the order and grouping in which rows
reached the partial aggregates, so the same rows read as other
partitions or grains give estimates that differ within the sketch's
error (~1.04/sqrt(2^lgk) relative standard error, fixed at build
time). tests/test_sketches.py pins exact equality in exact mode and
the error bound in HLL mode.

Everything is native Spark SQL aggregate expressions
(`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`,
`percentile_approx`) — JVM-side, partial-aggregating (map-side
combine emits sketches, not rows), no Python anywhere.

These are deliberately NOT oracle-paired registry entries: DuckDB
cannot replay DataSketches register layouts, so the hard pins live in
pytest instead — exact-mode merge/partition invariance, HLL-mode
error bounds across layouts, estimate-vs-exact error bounds, and plan
shape (the documented weaker-check class, like checkpoint/resume)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LGK = 12  # ~0.8% usable error in ~4 KB per sketch


def hll_cardinality(df: DataFrame, group_cols: list[str], value_col: str,
                    lgk: int = DEFAULT_LGK) -> DataFrame:
    """Distinct-``value_col`` HLL sketch + estimate per ``group_cols``
    cell — the finest-grain build pass. Keep the ``sketch`` column
    when persisting (that is the whole point: it merges); the
    ``estimate`` rides along for direct reads.

    Scale shape: ONE hash aggregate whose partial (map-side) state is
    the sketch itself, so the exchange carries |groups| x ~2^lgk
    bytes, never the raw keys."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return (
        df.groupBy(*group_cols)
        .agg(F.expr(f"hll_sketch_agg({value_col}, {int(lgk)})")
             .alias("sketch"))
        .withColumn("estimate",
                    F.expr("hll_sketch_estimate(sketch)").cast("long"))
    )


def hll_rollup(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate STORED sketches to a coarser grain (day -> sink,
    sink -> global, ...) by union — no rescan of the source table.
    Input needs a ``sketch`` column (from :func:`hll_cardinality` or a
    previous rollup); output carries the merged sketch (still
    mergeable further) + its estimate. Estimates are EXACTLY what a
    direct build at this grain would produce (HLL union = register
    max; associative, commutative, idempotent — pytest-pinned)."""
    agg = F.expr("hll_union_agg(sketch)").alias("sketch")
    if group_cols:
        merged = sketches.groupBy(*group_cols).agg(agg)
    else:
        merged = sketches.agg(agg)
    return merged.withColumn(
        "estimate", F.expr("hll_sketch_estimate(sketch)").cast("long"))


def sink_day_cardinality(routed: DataFrame,
                         lgk: int = DEFAULT_LGK) -> DataFrame:
    """The routed-table instance: distinct conversations per
    (sink_id, day) as mergeable sketches — the stored finest grain of
    the ops dashboard. ``hll_rollup(out, ["sink_id"])`` answers
    per-sink all-time; ``hll_rollup(out, [])`` the global count."""
    return hll_cardinality(
        routed.filter(F.col("sink_id") != "ignored")
        .withColumn("day", F.date_trunc("day", "ts")),
        ["sink_id", "day"], "conv_id", lgk=lgk)


def quantiles_approx(df: DataFrame, group_cols: list[str], value_col: str,
                     qs: tuple = (0.5, 0.95, 0.99),
                     accuracy: int = 10000) -> DataFrame:
    """Bounded-rank-error quantiles per group (``percentile_approx``,
    Greenwald-Khanna style): the guarantee is on RANK — the returned
    value's true rank is within n/accuracy of q*n — which is the
    contract a latency dashboard needs (pytest pins the rank bound
    against exact ranks). Partial-aggregating like the HLL build:
    map-side summaries merge, raw values never shuffle."""
    cols = [
        F.expr(f"percentile_approx({value_col}, {q}, {int(accuracy)})")
        .alias(f"q{str(q)[2:]}")
        for q in qs
    ]
    n = F.count(F.lit(1)).alias("n")
    if group_cols:
        return df.groupBy(*group_cols).agg(*cols, n)
    return df.agg(*cols, n)
