"""AGG_SCHEMA compiler: declarative schema → aggregate Columns.

The reference drives hourly→daily/monthly resampling from a
declarative per-predictor schema (reference ``core.py:217-248``,
schema ``Processing/processing_utils.py:142-256``). This compiles the
same schema into one flat list of Spark aggregate Columns — all
predictors aggregated in a single ``groupBy().agg()`` pass (one
shuffle), instead of the reference's per-predictor loop.

Semantics notes (SURVEY §7 hard parts):
- ``std`` is **population** std (xarray ddof=0) → derived from exact
  decimal sums (see operators/helpers.py), not Spark's sample
  ``stddev``.
- ``delta`` is last−first within the bucket in time order (reference
  ``s.iloc[-1] − s.iloc[0]``) → ``max_by − min_by`` over an explicit
  order column; deterministic, unlike positional first/last.
- ``DROP`` at a granularity omits the predictor entirely.

Scale: mean/std compile to partial-aggregatable sums, so map-side
combine applies; the shuffle carries O(groups × columns) agg states.
At 100 TB with a (lat, lon, day) key this is the dominant shuffle —
the grouping key should be aligned with storage partitioning
(partitionBy(region_id) + sort by time) so AQE coalesces cleanly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cs_pipeline_spark.functions.constants import AGG_SCHEMA
from cs_pipeline_spark.operators.helpers import (
    DUCKDB_SQL,
    SPARK_SQL,
    Dialect,
    render_davg,
    render_dstd_pop,
    render_dsum,
)

_TEMPLATES = {"mean": render_davg, "std": render_dstd_pop, "sum": render_dsum}


def active_predictors(granularity: str, predictors: list[str] | None = None) -> list[str]:
    """Predictors with a non-DROP spec at this granularity."""
    preds = predictors or list(AGG_SCHEMA)
    return [p for p in preds if AGG_SCHEMA[p][granularity] != "DROP"]


def _render_agg_schema(
    granularity: str,
    predictors: list[str] | None,
    order_col: str,
    t: Dialect,
) -> list[tuple[str, str]]:
    """(output name, SQL aggregate in dialect ``t``) for every
    (predictor, output) pair, in schema order."""
    out: list[tuple[str, str]] = []
    for p in active_predictors(granularity, predictors):
        for name, kind in AGG_SCHEMA[p][granularity].items():
            if kind in _TEMPLATES:
                e = _TEMPLATES[kind](p, t)
            elif kind in ("min", "max"):
                e = f"{kind.upper()}({p})"
            elif kind == "delta":
                e = f"({t.max_by}({p}, {order_col}) - {t.min_by}({p}, {order_col}))"
            else:  # pragma: no cover
                raise ValueError(f"unknown agg kind {kind!r} for {p}")
            out.append((name, e))
    return out


def compile_agg_schema(
    granularity: str,
    predictors: list[str] | None = None,
    order_col: str = "valid_time",
) -> list[Column]:
    """Spark aggregate Columns for every (predictor, output) pair: ONE
    ``F.expr`` each (a Column-object tree cost ~90 py4j round trips per
    aggregate, 1.3 s of the resample build for ~100 aggregates)."""
    return [
        F.expr(e).alias(name)
        for name, e in _render_agg_schema(granularity, predictors, order_col, SPARK_SQL)
    ]


def compile_agg_schema_sql(
    granularity: str,
    predictors: list[str] | None = None,
    order_col: str = "valid_time",
) -> list[str]:
    """DuckDB twins of :func:`compile_agg_schema` (same order)."""
    return [
        f"{e} AS {name}"
        for name, e in _render_agg_schema(granularity, predictors, order_col, DUCKDB_SQL)
    ]
