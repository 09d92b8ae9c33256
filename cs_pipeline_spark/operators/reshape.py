"""Reshaping + set operators (SURVEY §2.7-2.8).

The engine's native layout is the long table (the reference's
cube↔table round-trips disappear — SURVEY §1.1); what remains are
wide↔long melts, pivots, unions and deterministic dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.helpers import dsum, sql_dsum
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load

_MELT_VARS = ["l_quantity", "l_extendedprice", "l_discount"]


@register(
    "reshape_melt",
    " UNION ALL ".join(
        f"SELECT l_orderkey, l_linenumber, '{v}' AS variable, {v} AS value "
        "FROM lineitem"
        for v in _MELT_VARS
    ),
    doc="wide→long melt (cube→table flattening, core.py:200)",
)
def reshape_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return li.melt(
        ids=["l_orderkey", "l_linenumber"],
        values=_MELT_VARS,
        variableColumnName="variable",
        valueColumnName="value",
    )


@register(
    "rename_axes",
    "SELECT CAST(ts AS TIMESTAMP) AS valid_time, "
    "44.87 + CAST(event_id % 16 AS DOUBLE) * 0.125 AS latitude, "
    "-74.03 + CAST(user_id % 16 AS DOUBLE) * 0.125 AS longitude, "
    "value AS wtd FROM events",
    doc="coordinate-axis rename: time→valid_time, y/x→latitude/longitude "
    "(dataset.py:40,73; inference core.py:45-50)",
)
def rename_axes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference renames cube axes (`time`→`valid_time`, WTD
    `y/x`→lat/lon) before any join so both sides share key names. Pure
    projection — zero cost, folded into the scan by Catalyst."""
    ev = load(spark, "events", sf_dir)
    raster = ev.select(
        F.col("ts").alias("time"),
        (44.87 + (F.col("event_id") % 16).cast("double") * 0.125).alias("y"),
        (-74.03 + (F.col("user_id") % 16).cast("double") * 0.125).alias("x"),
        F.col("value").alias("wtd"),
    )
    return raster.withColumnsRenamed(
        {"time": "valid_time", "y": "latitude", "x": "longitude"}
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "reshape_pivot",
    "SELECT user_id, "
    + ", ".join(
        sql_dsum(f"CASE WHEN event_type = '{t}' THEN value END") + f" AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
    doc="long→wide pivot on event_type (table→cube, core.py:204-207)",
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — at scale, never let Spark
    scan for distinct pivot values (extra job over the full table)."""
    ev = load(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(dsum("CASE WHEN event_type IS NOT NULL THEN value END"))
    )


@register(
    "union_time_concat",
    f"SELECT event_id, {EVENTS_TS_SQL} AS ts, value FROM events "
    "WHERE event_type = 'click' "
    "UNION ALL "
    f"SELECT event_id, {EVENTS_TS_SQL} AS ts, value FROM events "
    "WHERE event_type = 'view'",
    doc="stack time slices (xr.concat dim=time, dataset.py:169)",
)
def union_time_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir).select("event_id", "ts", "value", "event_type")
    a = ev.filter(F.col("event_type") == "click").drop("event_type")
    b = ev.filter(F.col("event_type") == "view").drop("event_type")
    return a.unionByName(b)


@register(
    "union_ragged_schemas",
    "SELECT event_id, value, NULL AS extra FROM events WHERE event_type = 'click' "
    "UNION ALL "
    "SELECT event_id, value, value * 2.0 AS extra FROM events "
    "WHERE event_type = 'error'",
    doc="outer-align files with differing variable sets (dataset.py:25-34 merge)",
)
def union_ragged_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``unionByName(allowMissingColumns=True)`` — the multi-file scan
    alignment: a file missing a variable contributes nulls."""
    ev = load(spark, "events", sf_dir)
    a = ev.filter(F.col("event_type") == "click").select("event_id", "value")
    b = ev.filter(F.col("event_type") == "error").select(
        "event_id", "value", (F.col("value") * 2.0).alias("extra")
    )
    return a.unionByName(b, allowMissingColumns=True).select(
        "event_id", "value", "extra"
    )


@register(
    "dedup_keys",
    "SELECT user_id, event_type, arg_min(value, event_id) AS value, "
    "MIN(event_id) AS event_id FROM events GROUP BY user_id, event_type",
    doc="drop_duplicates on key subset, deterministic first-by-source-key (dataset.py:99)",
)
def dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the row with the smallest unique source key.

    ``dropDuplicates`` keeps an *arbitrary* row (shuffle-order
    dependent) — this variant is the deterministic equivalent; at
    scale it is a plain partial-aggregatable groupBy (map-side
    combine), strictly cheaper than a window row_number.
    """
    ev = load(spark, "events", sf_dir)
    return ev.groupBy("user_id", "event_type").agg(
        F.min_by("value", "event_id").alias("value"),
        F.min("event_id").alias("event_id"),
    )


@register(
    "set_intersect",
    "SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
    "INTERSECT "
    "SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'",
    doc="set intersection (engine extension; absent in reference)",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "set_except",
    "SELECT c_custkey FROM customer "
    "EXCEPT "
    "SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
    doc="set difference (engine extension; absent in reference)",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir).select("c_custkey")
    o = (
        load(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.exceptAll(o).distinct()


@register(
    "set_intersect_all",
    "SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
    "INTERSECT ALL "
    "SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'",
    doc="bag-semantics intersection (INTERSECT ALL): multiplicity = min of the two sides — completes the set-op family alongside the distinct variants",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`intersectAll` keeps duplicate multiplicity (min of both
    sides) — Spark plans it as a count-compare aggregation, one
    shuffle per side on the value, no pairwise join."""
    o = load(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


@register(
    "set_except_all",
    "SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
    "EXCEPT ALL "
    "SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'",
    doc="bag-semantics difference (EXCEPT ALL): multiplicity = left minus right, floor 0",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)
