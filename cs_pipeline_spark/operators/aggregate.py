"""Aggregation operators (SURVEY §2.5) + calendar resampling.

The centerpiece is ``agg_resample_daily``/``agg_resample_monthly``:
the reference's hourly→1D/1ME resampling driven by AGG_SCHEMA
(reference ``core.py:217-248``), compiled to ONE ``groupBy().agg()``
over all predictors (single shuffle; the reference loops predictors
and concatenates).

All sums/means/stds use the exact-decimal helpers so the DuckDB
oracle hash-matches bit-for-bit (see operators/helpers.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.functions.era5_fixture import ERA5_CTE, era5_events
from cs_pipeline_spark.operators.helpers import dec_to_double, dround, davg, dsum, sql_davg, sql_dsum, with_total_rank, with_prefix_agg, with_prefix_aggs, one_part
from cs_pipeline_spark.operators.predictors import predictors_cte, predictors_frame
from cs_pipeline_spark.plans.agg_compiler import (
    active_predictors,
    compile_agg_schema,
    compile_agg_schema_sql,
)
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load


def _resample(granularity: str, trunc: str):
    preds = active_predictors(granularity)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = predictors_frame(spark, sf_dir, preds)
        return df.groupBy(
            "latitude",
            "longitude",
            F.date_trunc(trunc, F.col("valid_time")).alias("bucket"),
        ).agg(*compile_agg_schema(granularity, order_col="event_id"))

    aggs = ", ".join(compile_agg_schema_sql(granularity, order_col="event_id"))
    sql = (
        f"WITH {ERA5_CTE}, {predictors_cte(preds)} "
        f"SELECT latitude, longitude, date_trunc('{trunc}', valid_time) AS bucket, "
        f"{aggs} FROM preds GROUP BY latitude, longitude, bucket"
    )
    return fn, sql


for _g, _t in (("daily", "day"), ("monthly", "month")):
    _fn, _sql = _resample(_g, _t)
    register(
        f"agg_resample_{_g}",
        _sql,
        doc=f"AGG_SCHEMA-driven hourly→{_g} resample, one shuffle (core.py:217-248)",
    )(_fn)


@register(
    "agg_monthly_mean",
    f"WITH {ERA5_CTE} SELECT date_trunc('month', valid_time) AS year_month, "
    "latitude, longitude, "
    f"{sql_davg('xco2')} AS xco2 "
    "FROM era5 GROUP BY year_month, latitude, longitude",
    doc="monthly mean per grid cell (CO₂/WTD pattern, dataset.py:46,79)",
)
def agg_monthly_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = era5_events(spark, sf_dir)
    return df.groupBy(
        F.date_trunc("month", F.col("valid_time")).alias("year_month"),
        "latitude",
        "longitude",
    ).agg(davg("xco2").alias("xco2"))


@register(
    "agg_delta_last_first",
    f"WITH {ERA5_CTE}, {predictors_cte(['SWC_1'])} "
    "SELECT latitude, longitude, date_trunc('day', valid_time) AS bucket, "
    "(arg_max(SWC_1, event_id) - arg_min(SWC_1, event_id)) AS SWC_1_delta "
    "FROM preds GROUP BY latitude, longitude, bucket",
    doc="last−first within bucket in time order (processing_utils.py:236-238)",
)
def agg_delta_last_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``s.iloc[-1] − s.iloc[0]`` as deterministic max_by−min_by.

    The order key is the unique event_id (time-monotone) — unlike
    positional first/last this is shuffle-order-independent.
    """
    df = predictors_frame(spark, sf_dir, ["SWC_1"])
    return df.groupBy(
        "latitude",
        "longitude",
        F.date_trunc("day", F.col("valid_time")).alias("bucket"),
    ).agg(
        (F.max_by("SWC_1", F.col("event_id")) - F.min_by("SWC_1", F.col("event_id"))).alias(
            "SWC_1_delta"
        )
    )


# Fine raster derived from events: 97×97 index space; coarsen by
# factor 30 with boundary="trim" (partial edge blocks dropped —
# reference dataset.py:160-161: block-mean, trim).
_RASTER_CTE = (
    "raster AS (SELECT CAST(event_id % 97 AS BIGINT) AS y_idx, "
    "CAST((event_id // 97) % 97 AS BIGINT) AS x_idx, value AS wtd FROM events)"
)


@register(
    "agg_coarsen_blocks",
    f"WITH {_RASTER_CTE} "
    "SELECT y_idx // 30 AS y_block, x_idx // 30 AS x_block, "
    f"{sql_davg('wtd')} AS wtd "
    "FROM raster WHERE y_idx < 90 AND x_idx < 90 "
    "GROUP BY y_block, x_block",
    doc="block-mean raster downsample, factor 30, trim edges (dataset.py:160-161)",
)
def agg_coarsen_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    raster = ev.select(
        (F.col("event_id") % 97).cast("bigint").alias("y_idx"),
        ((F.col("event_id") / 97).cast("bigint") % 97).alias("x_idx"),
        F.col("value").alias("wtd"),
    )
    return (
        raster.filter((F.col("y_idx") < 90) & (F.col("x_idx") < 90))
        .groupBy(
            (F.col("y_idx") / 30).cast("bigint").alias("y_block"),
            (F.col("x_idx") / 30).cast("bigint").alias("x_block"),
        )
        .agg(davg("wtd").alias("wtd"))
    )


@register(
    "agg_bbox_extent",
    f"WITH {ERA5_CTE} "
    "SELECT CASE WHEN latitude < 46.0 THEN 'south' ELSE 'north' END AS region_id, "
    "MAX(latitude) AS north, MIN(longitude) AS west, "
    "MIN(latitude) AS south, MAX(longitude) AS east "
    "FROM era5 GROUP BY region_id",
    doc="covering bbox [N,W,S,E] per region (geometry_processor.py:140-189)",
)
def agg_bbox_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = era5_events(spark, sf_dir)
    return df.groupBy(
        F.when(F.col("latitude") < 46.0, F.lit("south"))
        .otherwise(F.lit("north"))
        .alias("region_id")
    ).agg(
        F.max("latitude").alias("north"),
        F.min("longitude").alias("west"),
        F.min("latitude").alias("south"),
        F.max("longitude").alias("east"),
    )


@register(
    "agg_bounds_check",
    f"SELECT MIN({EVENTS_TS_SQL}) AS ts_min, MAX({EVENTS_TS_SQL}) AS ts_max, "
    "COUNT(*) AS n FROM events",
    doc="min/max timestamp bounds check (processor.py:54-60)",
)
def agg_bounds_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    return ev.agg(
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_missing_groups",
    "SELECT DISTINCT "
    f"CAST(year({EVENTS_TS_SQL}) AS BIGINT) AS y, "
    f"CAST(month({EVENTS_TS_SQL}) AS BIGINT) AS m, "
    f"CAST(day({EVENTS_TS_SQL}) AS BIGINT) AS d, "
    f"strftime({EVENTS_TS_SQL}, '%H:%M:%S') AS time "
    "FROM events WHERE (CASE WHEN value % 11.0 < 1.0 THEN NULL ELSE value END) IS NULL",
    doc="distinct (year,month,day,time) of missing rows (processor.py:89-114)",
)
def agg_missing_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-row isolation + calendar-part distinct.

    The sentinel-null derivation stands in for the station CSV's
    scattered nulls (the driver's events table has none).
    """
    ev = load(spark, "events", sf_dir)
    v = F.when(F.col("value") % 11.0 < 1.0, F.lit(None)).otherwise(F.col("value"))
    return (
        ev.withColumn("v", v)
        .filter(F.col("v").isNull())
        .select(
            F.year("ts").cast("bigint").alias("y"),
            F.month("ts").cast("bigint").alias("m"),
            F.dayofmonth("ts").cast("bigint").alias("d"),
            F.date_format("ts", "HH:mm:ss").alias("time"),
        )
        .distinct()
    )


@register(
    "agg_distinct_months",
    "SELECT DISTINCT date_trunc('month', o_orderdate) AS year_month FROM orders",
    doc="unique year_month values (dataset.py:49)",
)
def agg_distinct_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, "orders", sf_dir)
    return o.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("year_month")
    ).distinct()


@register(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="hierarchical rollup (engine extension; absent in reference)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "agg_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="explicit grouping sets (engine extension; absent in reference)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets — one shuffle computes all three
    groupings (Spark expands to a single Expand + hash aggregate, not
    three scans)."""
    load(spark, "lineitem", sf_dir).createOrReplaceTempView("_li_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) "
        "AS DECIMAL(38,0))) AS STRING) AS DOUBLE) / 1000000.0 AS sum_price "
        "FROM _li_gs "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


# ---------- deterministic train/val/test split ----------
# LLM-pipeline op: split assignment must be a PURE FUNCTION of the row
# key — rand() splits are irreproducible across retries/partitionings
# and leak rows between splits on re-runs. Multiplicative hashing on
# the key is engine-agnostic (exact int64 arithmetic) and stable
# forever. 80/10/10 by bucket.

_SPLIT_PRIME = 1000000007
# Knuth multiplicative constant, pre-reduced mod the prime so that
# (doc_id % p) * mult stays < 2^62: int64 can NEVER overflow, for any
# doc_id — Spark wraps silently on overflow while DuckDB raises, so an
# unreduced product would break engine-agnosticism at ~3.5e9 ids.
_SPLIT_MULT = 2654435761 % _SPLIT_PRIME
_SPLIT_MOD = 100


@register(
    "sample_train_split",
    f"""
    WITH s AS (SELECT doc_id, lang,
               (((doc_id % {_SPLIT_PRIME}) * {_SPLIT_MULT}) % {_SPLIT_PRIME})
               % {_SPLIT_MOD} AS bucket
               FROM documents)
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM s GROUP BY lang, split
    """,
    doc="deterministic 80/10/10 train/val/test split by multiplicative "
    "key hash (reproducible across runs/partitionings, unlike rand())",
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    bucket = (
        (F.col("doc_id") % F.lit(_SPLIT_PRIME)) * F.lit(_SPLIT_MULT)
    ) % F.lit(_SPLIT_PRIME) % F.lit(_SPLIT_MOD)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------- exact discrete quantiles ----------
# Interpolated quantiles (percentile_cont) mix doubles in an
# engine-specific op order; DISCRETE quantiles pick an actual element
# by rank — exact, order-free, and the right default for corpus
# length/score distributions anyway.


@register(
    "agg_quantiles_disc",
    "WITH r AS (SELECT event_type, value, "
    "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) "
    "AS rn, COUNT(*) OVER (PARTITION BY event_type) AS n FROM events) "
    "SELECT event_type, MAX(n) AS n_rows, "
    "MAX(CASE WHEN rn = CEIL(0.25 * n) THEN value END) AS p25, "
    "MAX(CASE WHEN rn = CEIL(0.5 * n) THEN value END) AS p50, "
    "MAX(CASE WHEN rn = CEIL(0.75 * n) THEN value END) AS p75 "
    "FROM r GROUP BY event_type",
    doc="exact discrete p25/p50/p75 per group via rank selection "
    "(element-picking: engine-agnostic, no float interpolation)",
)
def agg_quantiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete quantiles by rank selection: value at row_number
    ceil(q·n) under a total order (value, event_id). Picks real
    elements — no interpolation arithmetic to diverge between
    engines. Plan: one shuffle on the group key; the rank window and
    the final aggregation share that partitioning (no second
    exchange)."""
    ev = load(spark, "events", sf_dir)
    wq = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wq).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q: float) -> Column:
        return F.max(
            F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("value"))
        )

    return r.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        pick(0.25).alias("p25"),
        pick(0.5).alias("p50"),
        pick(0.75).alias("p75"),
    )


@register(
    "sample_stratified",
    f"""
    WITH h AS (SELECT doc_id, lang,
               ((doc_id % {_SPLIT_PRIME}) * {_SPLIT_MULT}) % {_SPLIT_PRIME} AS hkey
               FROM documents)
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rn
      FROM h
    ) WHERE rn <= 10
    """,
    doc="deterministic stratified sampling: exact per-stratum quota (10/lang) by multiplicative-hash order — reproducible across runs/partitionings, unlike sampleBy()",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample. ``df.sampleBy`` gives only an
    EXPECTED fraction and changes with partitioning/seed layout; for
    curation pipelines the sample must be a pure function of the data.
    Ranking by the multiplicative key hash = a reproducible shuffle of
    each stratum; `rn <= q` takes an exact quota.

    Scale: one shuffle on the stratum key; row_number keeps q rows per
    partition. If a stratum is hot (one lang dominating 100 TB), the
    same hash supports a two-level quota: per (lang, hkey % S) sub-
    quota then a q-of-S·q re-rank — bounded partitions, same output.
    """
    docs = load(spark, "documents", sf_dir)
    hkey = (
        (F.col("doc_id") % F.lit(_SPLIT_PRIME)) * F.lit(_SPLIT_MULT)
    ) % F.lit(_SPLIT_PRIME)
    w = Window.partitionBy("lang").orderBy(hkey.asc(), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )


_HIST_BIN = 50000.0


@register(
    "agg_histogram",
    f"""
    SELECT CAST(FLOOR(o_totalprice / {_HIST_BIN}) AS BIGINT) AS bin,
           CAST(FLOOR(o_totalprice / {_HIST_BIN}) AS BIGINT) * {_HIST_BIN} AS bin_low,
           COUNT(*) AS n,
           MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
    FROM orders GROUP BY 1, 2
    """,
    doc="fixed-width histogram (data-profiling primitive): integer bin keys from one IEEE division — exact same bits both engines, one map-side-combined shuffle",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution profile in one pass. The bin id is
    floor(x / width) — a single correctly-rounded IEEE division then
    an exact floor, so Spark and DuckDB agree bit-for-bit even at bin
    boundaries. At 100 TB: the shuffle carries (bin, partial count/
    min/max) after map-side combine — O(bins), not O(rows)."""
    o = load(spark, "orders", sf_dir)
    bin_ = F.floor(F.col("o_totalprice") / F.lit(_HIST_BIN))
    return (
        o.groupBy(
            bin_.alias("bin"),
            (bin_ * F.lit(_HIST_BIN)).alias("bin_low"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("min_v"),
            F.max("o_totalprice").alias("max_v"),
        )
    )


# ---------- approximate aggregates (contract-checked) ----------
# Sketches (HLL, quantile summaries) have engine-specific values, so
# the oracle cannot reproduce them. Instead the CONTRACT is encoded:
# the Spark side emits exact values (hash-compared as usual) plus a
# boolean "within error bound" verdict; the oracle emits TRUE. If the
# sketch ever drifts outside its bound, the verdict flips and the
# driver's hash check FAILS — the approximation quality is verified
# every round, not merely claimed.


@register(
    "agg_approx_distinct",
    "SELECT event_type, "
    "COUNT(DISTINCT user_id) AS n_exact, "
    "TRUE AS approx_ok "
    "FROM events GROUP BY event_type",
    doc="HLL distinct-count with contract oracle: exact count hash-checked + a within-5% verdict on approx_count_distinct (rsd 2%) the oracle pins to TRUE",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the exact distinct is a full shuffle of the key set;
    the HLL sketch is a few KB per group and merges map-side — the
    production path for cardinality monitoring. HLL register maxima
    are commutative, so the sketch value is order- and
    partitioning-independent (safe to gate a boolean on)."""
    ev = load(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= F.lit(0.05) * F.countDistinct("user_id")
        ).alias("approx_ok"),
    )


@register(
    "agg_approx_quantile",
    f"""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN value END) AS p50_exact,
           TRUE AS approx_ok
    FROM r GROUP BY event_type
    """,
    doc="approximate median with contract oracle: exact discrete p50 hash-checked + a tolerance verdict on approx_percentile the oracle pins to TRUE",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles need a per-group sort (rank selection); the
    quantile-summary sketch is mergeable, single-pass, bounded-memory
    — the 100 TB path. The verdict tolerance (±5% of |exact| + 0.5)
    is loose enough to absorb the sketch's partition-merge-order
    dependence while still failing on real regressions."""
    ev = load(spark, "events", sf_dir)
    wq = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wq).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    exact = F.max(
        F.when(
            F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")), F.col("value")
        )
    )
    approx = F.percentile_approx("value", 0.5, 10000)
    return r.groupBy("event_type").agg(
        exact.alias("p50_exact"),
        (F.abs(approx - exact) <= F.lit(0.05) * F.abs(exact) + F.lit(0.5)).alias(
            "approx_ok"
        ),
    )


@register(
    "profile_nulls",
    f"""
    WITH d AS (SELECT
        CASE WHEN value % 11.0 < 1.0 THEN NULL ELSE value END AS v_value,
        CASE WHEN value % 7.0 < 1.0 THEN NULL ELSE props END AS v_props,
        CASE WHEN value % 13.0 < 1.0 THEN NULL ELSE event_type END AS v_type
      FROM events)
    SELECT col, n_rows, n_nulls,
           CAST(n_nulls AS DOUBLE) / n_rows AS null_ratio
    FROM (
      SELECT 'value' AS col, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(v_value) AS n_nulls FROM d
      UNION ALL
      SELECT 'props', COUNT(*), COUNT(*) - COUNT(v_props) FROM d
      UNION ALL
      SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(v_type) FROM d
    )
    """,
    doc="per-column null profile (completeness report): one pass, all columns counted simultaneously, unpivoted to (col, n_rows, n_nulls, ratio) rows",
)
def profile_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness profiling — the first thing a curation
    pipeline reports per ingest batch. ONE aggregation computes every
    column's null count simultaneously (count(col) skips nulls); the
    unpivot to rows happens on the 1-row aggregate, so the scan is
    single-pass regardless of column count. Nulls here are derived
    (driver's events table has none — same convention as
    agg_missing_groups)."""
    ev = load(spark, "events", sf_dir)
    cols = {
        "value": F.when(F.col("value") % 11.0 < 1.0, None).otherwise(
            F.col("value")
        ),
        "props": F.when(F.col("value") % 7.0 < 1.0, None).otherwise(
            F.col("props")
        ),
        "event_type": F.when(F.col("value") % 13.0 < 1.0, None).otherwise(
            F.col("event_type")
        ),
    }
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{name}")
            for name, c in cols.items()
        ],
    )
    stacked = agg.select(
        F.expr(
            "stack(3, 'value', nulls_value, 'props', nulls_props, "
            "'event_type', nulls_event_type) AS (col, n_nulls)"
        ),
        "n_rows",
    )
    return stacked.select(
        "col",
        "n_rows",
        "n_nulls",
        (F.col("n_nulls").cast("double") / F.col("n_rows")).alias(
            "null_ratio"
        ),
    )


@register(
    "agg_mode_per_group",
    """
    SELECT user_id, mode_type, n_mode FROM (
      SELECT user_id, event_type AS mode_type, COUNT(*) AS n_mode,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type
             ) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    doc="per-key mode (most frequent value) with deterministic tie-break — two partial-aggregatable passes, no per-group sort of raw rows",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode = argmax over (count desc, value asc). Implemented as
    count-per-(key,value) then max_by(struct) — both stages partial-
    aggregate map-side, so the shuffles carry (key,value,count) and
    (key, best) rather than raw rows. The oracle states the same
    thing with a ranking window. Scale: shuffle #2 is O(keys); a hot
    key inflates only its stage-1 combine input, which map-side
    combine absorbs."""
    ev = load(spark, "events", sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # argmax via min(struct(-n, type)): lexicographic struct min picks
    # highest n, then lexicographically smallest type — deterministic
    best = counts.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("event_type").alias("t"))).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.t").alias("mode_type"),
        (-F.col("b.neg_n")).alias("n_mode"),
    )


@register(
    "agg_corr",
    """
    WITH q AS (SELECT l_returnflag,
        CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS HUGEINT) AS qx,
        CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS HUGEINT) AS qy
      FROM lineitem),
    m AS (SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
        SUM(qx) AS sx, SUM(qy) AS sy, SUM(qx * qx) AS sxx,
        SUM(qy * qy) AS syy, SUM(qx * qy) AS sxy
      FROM q GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
        CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) *
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
      END AS corr_qty_price
    FROM m
    """,
    doc="per-group Pearson correlation from exact integer moments (n·Σxy−ΣxΣy over quantized values) — cancellation-free and bit-stable, unlike float corr()",
)
def agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation with the same exact-integer-moment discipline as
    ``dvar_pop``: all five sums are exact decimals, the covariance
    and variance numerators are exact integer differences, and only
    the final divide/sqrt are (correctly-rounded) floats. Built-in
    ``corr()`` accumulates floating co-moments whose partial-merge
    order varies with partitioning — fine statistically, but not
    reproducible bit-for-bit across engines or cluster layouts.
    One map-side-combined shuffle, O(groups) rows moved."""
    li = load(spark, "lineitem", sf_dir)
    qx = F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    qy = F.floor(F.col("l_extendedprice") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum(qx.cast("decimal(38,0)")).alias("sx"),
        F.sum(qy.cast("decimal(38,0)")).alias("sy"),
        F.sum(qx * qx).alias("sxx"),
        F.sum(qy * qy).alias("syy"),
        F.sum(qx * qy).alias("sxy"),
    )
    varx = m.n * m.sxx - m.sx * m.sx
    vary = m.n * m.syy - m.sy * m.sy
    cov = m.n * m.sxy - m.sx * m.sy
    r = F.when(
        (varx > 0) & (vary > 0),
        dec_to_double(cov) / F.sqrt(dec_to_double(varx) * dec_to_double(vary)),
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        r.alias("corr_qty_price"),
    )


@register(
    "agg_cube",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two dims — all 4 grouping combinations in ONE Expand + hash-agg pass (completes the rollup/grouping-sets/cube trio)",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`cube()` expands each input row into one row per grouping set
    (4 here) BEFORE the aggregation, so a single shuffle computes all
    combinations — at 100 TB that's one pass instead of four scans.
    The expansion factor is 2^dims: keep cube dims low-cardinality
    and few, or switch to explicit grouping sets."""
    li = load(spark, "lineitem", sf_dir)
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@register(
    "agg_weighted_avg",
    """
    WITH q AS (SELECT l_returnflag,
        CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS HUGEINT) AS qw,
        CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS HUGEINT) AS qx
      FROM lineitem)
    SELECT l_returnflag,
      CAST(CAST(SUM(qw * qx) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(SUM(qw) AS VARCHAR) AS DOUBLE) / 1000000.0
        AS qty_weighted_price
    FROM q GROUP BY l_returnflag
    """,
    doc="quantity-weighted average price per group — exact integer Σwx / Σw, the weighted twin of davg",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean with both sums exact (quantized products in
    decimal), one division at the end — partial-aggregatable, so
    map-side combine applies exactly like plain davg."""
    li = load(spark, "lineitem", sf_dir)
    qw = F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    qx = F.floor(F.col("l_extendedprice") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    return li.groupBy("l_returnflag").agg(
        (
            dec_to_double(F.sum(qw * qx))
            / dec_to_double(F.sum(qw.cast("decimal(38,0)")))
            / F.lit(1e6)
        ).alias("qty_weighted_price")
    )


@register(
    "agg_incremental_merge",
    f"""
    SELECT event_type, COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value,
           {sql_davg('value')} AS avg_value
    FROM events GROUP BY event_type
    """,
    doc="incremental aggregation: two half-corpus partial states merged = one full-scan aggregate, bit-exact — the backfill/daily-increment pattern the quantized-integer sums exist for",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ETL contract: aggregate each data increment to a
    PARTIAL state (quantized integer sum + count), persist it, and
    fold new increments in by summing states — the result must equal
    a full rescan bit-for-bit, which only holds because the state is
    exact integers (float partials would drift with the merge order).
    Here: the events table split at its median timestamp into two
    'increments', each aggregated separately, states unioned and
    re-reduced; the ORACLE aggregates the whole table in one pass —
    the hash match IS the incremental-equals-batch proof. At 100 TB
    this is how daily partitions fold into monthly rollups without
    re-reading history."""
    ev = load(spark, "events", sf_dir)
    mid = "2024-01-15 00:00:00"
    q = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("value").alias("n_part"),
            F.sum(q).alias("sum_q"),
        )

    inc1 = partial(ev.filter(F.col("ts") < F.lit(mid).cast("timestamp")))
    inc2 = partial(ev.filter(F.col("ts") >= F.lit(mid).cast("timestamp")))
    merged = (
        inc1.unionByName(inc2)
        .groupBy("event_type")
        .agg(
            F.sum("n_part").alias("n"),
            F.sum("sum_q").alias("sum_q"),
        )
    )
    sum_value = F.col("sum_q").cast("string").cast("double") / F.lit(1e6)
    return merged.select(
        "event_type",
        "n",
        sum_value.alias("sum_value"),
        (sum_value / F.col("n")).alias("avg_value"),
    )


# ---------- robust outlier detection (median / MAD) ----------

_MAD_K = 3.0  # outlier threshold multiplier


@register(
    "agg_mad_outliers",
    """
    WITH qv AS (
      SELECT event_type, CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(q, 0.5) AS mq
      FROM qv GROUP BY event_type
    ), dev AS (
      SELECT qv.event_type, ABS(qv.q - med.mq) AS d
      FROM qv JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS md
      FROM dev GROUP BY event_type
    ), out_c AS (
      SELECT dev.event_type,
             COUNT(CASE WHEN dev.d > 3.0 * mad.md THEN 1 END) AS n_outliers
      FROM dev JOIN mad USING (event_type) GROUP BY dev.event_type
    )
    SELECT o.event_type,
           (med.mq / 1000000.0) AS med_value,
           (mad.md / 1000000.0) AS mad_value,
           o.n_outliers
    FROM out_c o
    JOIN med USING (event_type) JOIN mad USING (event_type)
    """,
    doc="per-type robust outliers: median + median-absolute-deviation "
    "over quantized integers (exact interpolation), |dev| > 3·MAD",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier counts, cross-engine-exact by construction.

    Exact medians over FLOATS are not portable (interpolation ULP), so
    both engines take medians of the QUANTIZED integers q =
    floor(v·1e6+0.5): the interpolated midpoint (a+b)/2 of two ≤1e13
    integers is exact in double, deviations |q−med| are exact halves,
    the second median is an exact quarter, and 3·MAD is still exact —
    every comparison and output value is bit-identical in Spark and
    DuckDB with no rounding step.

    Scale: three aggregations keyed by the low-cardinality event_type
    with two broadcast join-backs of per-type scalars; exact
    percentile needs the group's values on one node, which is safe
    precisely because the key space is small and each group's digest
    is the sort buffer — for high-cardinality keys switch to
    ``agg_approx_quantile`` (t-digest sketch, mergeable map-side).
    """
    ev = load(spark, "events", sf_dir)
    qv = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).alias("q"),
    )
    med = qv.groupBy("event_type").agg(
        F.expr("percentile(q, 0.5)").alias("mq")
    )
    dev = qv.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("q") - F.col("mq")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("md")
    )
    out_c = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(
                F.when(F.col("d") > F.lit(_MAD_K) * F.col("md"), 1)
            ).alias("n_outliers")
        )
    )
    return (
        out_c.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            (F.col("mq") / F.lit(1000000.0)).alias("med_value"),
            (F.col("md") / F.lit(1000000.0)).alias("mad_value"),
            "n_outliers",
        )
    )


# ---------- higher central moments: skewness / excess kurtosis ----------
# Same exactness discipline as dvar_pop, extended to 3rd/4th moments.
# Skew/kurtosis are affine-invariant, so values quantize at 1e3 (not
# 1e6) to bound d^4 sums: d = q - min(q) <= ~1e6 for a value span of
# 1e3 => sum(d^4) <= 1e24*rows -- exact in decimal(38,0)/HUGEINT up to
# ~1e14 rows per group. All float arithmetic happens AFTER the exact
# integer sums, with identical expression text on both engines.

_MQ = 1000.0  # moment quantum (3 dp)


@register(
    "agg_skew_kurtosis",
    f"""
    WITH qv AS (
      SELECT event_type, CAST(FLOOR(value * {_MQ} + 0.5) AS HUGEINT) AS q
      FROM events
    ), mn AS (
      SELECT event_type, MIN(q) AS p FROM qv GROUP BY event_type
    ), s AS (
      SELECT qv.event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(qv.q - mn.p) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM((qv.q - mn.p) * (qv.q - mn.p)) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM((qv.q - mn.p) * (qv.q - mn.p) * (qv.q - mn.p)) AS VARCHAR) AS DOUBLE) AS s3,
             CAST(CAST(SUM((qv.q - mn.p) * (qv.q - mn.p) * (qv.q - mn.p) * (qv.q - mn.p)) AS VARCHAR) AS DOUBLE) AS s4
      FROM qv JOIN mn USING (event_type) GROUP BY qv.event_type
    )
    SELECT event_type,
           ROUND(((s3 / n) - (3.0 * (s1 / n) * (s2 / n)) + (2.0 * ((s1 / n) * (s1 / n) * (s1 / n))))
                 / POWER(((s2 / n) - ((s1 / n) * (s1 / n))), 1.5), 6) AS skewness,
           FLOOR((((s4 / n) - (4.0 * (s1 / n) * (s3 / n)) + (6.0 * ((s1 / n) * (s1 / n)) * (s2 / n))
                  - (3.0 * ((s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))))
                 / (((s2 / n) - ((s1 / n) * (s1 / n))) * ((s2 / n) - ((s1 / n) * (s1 / n)))) - 3.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS kurtosis_excess
    FROM s
    """,
    doc="per-type skewness + excess kurtosis from exact min-shifted "
    "integer moment sums (cancellation-bounded, engine-identical floats)",
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness m3/m2^1.5 and excess kurtosis m4/m2^2 - 3.

    Two passes: per-group integer MIN (exact, order-free pivot), then
    one aggregation of d, d^2, d^3, d^4 over d = q - min(q) in exact
    integer arithmetic (d^2, d^3 fit long per-row; only d^4 needs one
    decimal multiply). Central moments derive from the raw sums with
    the SAME left-associated float expression text as the oracle, so
    every double is bit-identical; the min-shift keeps magnitudes at
    the spread scale, so the m2 = S2/n - mu^2 subtraction loses no
    meaningful precision (unlike the unshifted naive formula dvar_pop
    replaced). 6-dp rounding absorbs POWER()'s libm ULP only.
    """
    ev = load(spark, "events", sf_dir)
    qv = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(_MQ) + F.lit(0.5)).alias("q"),
    )
    mn = qv.groupBy("event_type").agg(F.min("q").alias("p"))
    d = F.col("q") - F.col("p")
    d2 = d * d  # <= 1e12, long
    d3 = d2 * d  # <= 1e18, long
    d4 = d2.cast("decimal(19,0)") * d2.cast("decimal(19,0)")  # decimal
    s = (
        qv.join(F.broadcast(mn), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dec_to_double(F.sum(d.cast("decimal(38,0)"))).alias("s1"),
            dec_to_double(F.sum(d2.cast("decimal(38,0)"))).alias("s2"),
            dec_to_double(F.sum(d3.cast("decimal(38,0)"))).alias("s3"),
            dec_to_double(F.sum(d4)).alias("s4"),
        )
    )
    n, s1, s2, s3, s4 = (F.col(x) for x in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = (s2 / n) - (mu * mu)
    m3 = (s3 / n) - (F.lit(3.0) * mu * (s2 / n)) + (F.lit(2.0) * (mu * mu * mu))
    m4 = (
        (s4 / n)
        - (F.lit(4.0) * mu * (s3 / n))
        + (F.lit(6.0) * (mu * mu) * (s2 / n))
        - (F.lit(3.0) * (mu * mu * mu * mu))
    )
    return s.select(
        "event_type",
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        dround(m4 / (m2 * m2) - F.lit(3.0), 6).alias(
            "kurtosis_excess"
        ),
    )


# ---------- Gini coefficient (inequality profiling) ----------


@register(
    "agg_gini",
    """
    WITH qv AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q,
             event_id
      FROM events WHERE value >= 0
    ), rk AS (
      SELECT event_type, q,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY q, event_id) AS rn
      FROM qv
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(rn AS HUGEINT) * q) AS VARCHAR) AS DOUBLE) AS s_iq,
             CAST(CAST(SUM(CAST(q AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS s_q
      FROM rk GROUP BY event_type
    )
    SELECT event_type,
           FLOOR((((2.0 * s_iq) / (n * s_q)) - ((n + 1.0) / n))
                 * 1000000.0 + 0.5) / 1000000.0 AS gini
    FROM s WHERE s_q > 0
    """,
    doc="per-type Gini coefficient from exact rank-weighted integer "
    "sums (G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n)",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality of the value distribution per event type — the
    standard skew-of-mass profiling number for partition/key sizing
    (a high Gini on a prospective shuffle key predicts stragglers).

    Exactness: values quantize to integers, ranks are tie-broken by
    the unique event_id, and both the rank-weighted sum and the plain
    sum stay in exact integer arithmetic (rn·q ≤ 1e4·1e13 per row,
    sums in decimal(38,0)/HUGEINT); the closed-form float expression
    at the end is textually identical on both engines.

    Scale: one shuffle to rank within groups, one aggregation — the
    sort is per-group (window), never global.
    """
    ev = load(spark, "events", sf_dir).filter(F.col("value") >= 0)
    qv = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).alias("q"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("q", "event_id")
    rk = qv.withColumn("rn", F.row_number().over(w))
    s = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec_to_double(
            F.sum((F.col("rn") * F.col("q")).cast("decimal(38,0)"))
        ).alias("s_iq"),
        dec_to_double(F.sum(F.col("q").cast("decimal(38,0)"))).alias("s_q"),
    )
    n, s_iq, s_q = F.col("n"), F.col("s_iq"), F.col("s_q")
    return s.filter(s_q > 0).select(
        "event_type",
        dround(
            ((F.lit(2.0) * s_iq) / (n * s_q)) - ((n + F.lit(1.0)) / n), 6
        ).alias("gini"),
    )


@register(
    "agg_linear_trend",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us({EVENTS_TS_SQL}) // 1000000 AS xs, value
      FROM events WHERE event_type <> 'click'
    ), sh AS (
      SELECT user_id,
             CAST(xs - MIN(xs) OVER (PARTITION BY user_id) AS HUGEINT) AS x,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS qy
      FROM e
    ), m AS (
      SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(qy) AS sy,
             SUM(x * x) AS sxx, SUM(x * qy) AS sxy
      FROM sh GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_obs,
      CASE WHEN (n * sxx - sx * sx) > 0 THEN
        CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) / 1000000.0
      END AS slope_per_sec
    FROM m
    """,
    doc="per-key OLS trend slope from exact min-shifted integer moments "
    "(n·Σxy−ΣxΣy over per-group-shifted seconds × quantized values) — "
    "the per-location trend detector, cancellation-free",
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of value vs. time per key, the climate-style
    'trend per grid cell' reduction, with the ``agg_corr`` exactness
    discipline: x is epoch SECONDS shifted by the per-group minimum
    (keeps x² · n inside decimal(38) — raw epoch µs squared would
    overflow), y is quantized; slope numerator and denominator are
    exact integer differences; the only floats are the final two
    correctly-rounded divisions.

    Scale: the min-shift window and the moment aggregation both key on
    user_id — one shuffle, the aggregation reuses the window's hash
    partitioning. Constant-time state per key.
    """
    ev = load(spark, "events", sf_dir).filter(F.col("event_type") != "click")
    xs = F.expr("unix_micros(ts) div 1000000")
    w = Window.partitionBy("user_id")
    sh = ev.select(
        "user_id", xs.alias("xs"), F.col("value").alias("v")
    ).select(
        "user_id",
        (F.col("xs") - F.min("xs").over(w)).cast("decimal(19,0)").alias("x"),
        F.floor(F.col("v") * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(19,0)")
        .alias("qy"),
    )
    m = sh.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("qy")).alias("sxy"),
    )
    den = m.n * m.sxx - m.sx * m.sx
    num = m.n * m.sxy - m.sx * m.sy
    return m.select(
        "user_id",
        F.col("n").cast("long").alias("n_obs"),
        F.when(
            den > 0, dec_to_double(num) / dec_to_double(den) / F.lit(1e6)
        ).alias("slope_per_sec"),
    )


@register(
    "agg_hll_mergeable",
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, "
    "TRUE AS merge_consistent, TRUE AS approx_ok "
    "FROM events GROUP BY event_type",
    doc="mergeable HLL sketches (Datasketches): the merged estimate "
    "must be SPLIT-INVARIANT (union of 2 halves == union of 4 "
    "quarters) and land within 5% of exact — the backfill/increment "
    "sketch contract, oracle pins both verdicts TRUE",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes sketches the 100 TB cardinality path:
    MERGEABILITY. Sketch disjoint slices of the corpus independently,
    union the binary sketches — the result must not depend on HOW the
    corpus was split (2 halves vs 4 quarters): HLL registers merge by
    max, which is commutative/associative/idempotent, so any split
    yields the identical merged state. That is what lets a daily
    pipeline keep per-partition sketches and answer arbitrary-range
    cardinalities without rescanning (see ``agg_incremental_merge``
    for the exact-sum analogue).

    Deliberately NOT asserted: merged estimate == single-pass
    estimate. DataSketches HLL uses the HIP estimator for a
    streaming-built sketch but must fall back to the composite
    estimator once a sketch has been through a union (HIP validity is
    destroyed by out-of-order register merges), so the two estimates
    legitimately diverge once the sketch leaves exact coupon mode
    (observed at sf0.1: single-pass 1494 vs merged 1488, exact 1500 —
    both within tolerance, split-invariance exact).

    The driver surface carries the exact count (hash-verified) plus
    two pinned verdicts; the sketch bytes themselves stay internal.
    """
    ev = load(spark, "events", sf_dir)

    def merged_est(n_splits: int, out: str) -> DataFrame:
        parts = [
            ev.filter(F.col("event_id") % n_splits == i)
            .groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            for i in range(n_splits)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.groupBy("event_type").agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(out)
        )

    full = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        full.join(merged_est(2, "est_halves"), "event_type")
        .join(merged_est(4, "est_quarters"), "event_type")
        .select(
            "event_type",
            "n_exact",
            (F.col("est_halves") == F.col("est_quarters")).alias(
                "merge_consistent"
            ),
            (
                F.abs(F.col("est_halves") - F.col("n_exact"))
                <= F.lit(0.05) * F.col("n_exact")
            ).alias("approx_ok"),
        )
    )


@register(
    "agg_new_vs_returning",
    f"""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('day', {EVENTS_TS_SQL}) AS TIMESTAMP) AS d
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(d) AS first_d FROM e GROUP BY user_id
    ), daily AS (
      SELECT e.d, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
             CAST(COUNT(DISTINCT CASE WHEN f.first_d = e.d
                   THEN e.user_id END) AS BIGINT) AS n_new
      FROM e JOIN firsts f ON f.user_id = e.user_id
      GROUP BY e.d
    )
    SELECT d, n_events, n_active, n_new,
           CAST(SUM(n_new) OVER (ORDER BY d
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
    doc="daily new-vs-returning growth metric: first-seen join-back + "
    "distinct counts + cumulative acquisition curve — integer-only",
)
def agg_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-growth daily report: active users, NEW users (first
    ever activity that day), and the cumulative acquisition curve.

    Scale: first-seen is a min-aggregate on user_id (map-side
    combine); the join-back rides the same user partitioning; the
    daily rollup shuffles (day, partials); the cumulative sum is a
    single-partition window over |days| rows — days are bounded, so
    the 1-partition window is fine even at 100 TB of events.
    """
    ev = load(spark, "events", sf_dir).select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    daily = (
        ev.join(firsts, "user_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_active"),
            F.countDistinct(
                F.when(F.col("first_d") == F.col("d"), F.col("user_id"))
            )
            .cast("long")
            .alias("n_new"),
        )
    )
    wcum = Window.partitionBy(one_part("n_new")).orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "d",
        "n_events",
        "n_active",
        "n_new",
        F.sum("n_new").over(wcum).cast("long").alias("cum_users"),
    )


_WEEK_US = 7 * 86400 * 1000000


@register(
    "agg_retention_cohorts",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us({EVENTS_TS_SQL}) // {_WEEK_US} AS wk
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id
    )
    SELECT CAST(c.cohort_wk AS BIGINT) AS cohort_wk,
           CAST(e.wk - c.cohort_wk AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN cohort c ON c.user_id = e.user_id
    GROUP BY 1, 2
    """,
    doc="cohort retention matrix: acquisition week × week offset × "
    "distinct active users (integer epoch-week arithmetic)",
)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users bucketed by their acquisition
    week (first activity), counted in each subsequent week they return.
    Weeks are integer epoch-week indices (µs div week) — exact on both
    engines, no calendar/timezone edge cases in the offset arithmetic.

    Scale: cohort assignment is a min-aggregate; the matrix is a
    distinct-count over (cohort, offset) — both map-side combined on
    the reused user partitioning, output |weeks|² rows.
    """
    ev = load(spark, "events", sf_dir).select(
        "user_id", F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("wk")
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_wk").cast("long").alias("cohort_wk"),
            (F.col("wk") - F.col("cohort_wk")).cast("long").alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


@register(
    "agg_bitmap_distinct",
    """
    WITH words AS (
      SELECT event_type, user_id // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER))
               AS word
      FROM events GROUP BY event_type, word_idx
    )
    SELECT event_type,
           CAST(SUM(bit_count(word)) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM words GROUP BY event_type
    """,
    doc="EXACT mergeable distinct-count via bitmap words (32 bits/word — DuckDB checks shift overflow at bit 63) "
    "(bit_or + bit_count) — the roaring-bitmap pattern for bounded ID "
    "domains; merge = OR, unlike HLL no estimation error",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap distinct: pack user ids into 64-bit words
    (word = id div 32, bit = id mod 32), ``bit_or`` per word,
    ``bit_count`` to total. EXACT — and still mergeable (bitmap OR is
    commutative/associative/idempotent like HLL's register max), so
    per-partition bitmaps fold incrementally with zero error. The
    trade: memory is domain/8 bytes per group — the right tool when
    IDs are dense and bounded (users, SKUs), with HLL
    (``agg_hll_mergeable``) for unbounded domains.

    Scale: shuffle 1 carries (type, word_idx, partial word) after
    map-side bit_or — at most domain/32 rows per group; shuffle 2
    reduces to |groups| rows. Both integer-exact.
    """
    ev = load(spark, "events", sf_dir)
    words = ev.groupBy(
        "event_type", F.expr("user_id div 32").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))").alias(
            "word"
        )
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_distinct"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


@register(
    "agg_ab_test",
    """
    WITH q AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS qv
      FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT arm, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(qv) AS s1, SUM(qv * qv) AS s2
      FROM q GROUP BY arm
    ), stats AS (
      SELECT arm, CAST(n AS BIGINT) AS n,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
               / 1000000.0 AS mean,
             CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
               / 1000000000000.0 AS var_pop
      FROM m
    )
    SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
           (a.mean - b.mean) /
           SQRT(a.var_pop / a.n + b.var_pop / b.n) AS t_stat
    FROM (SELECT * FROM stats WHERE arm = 'A') a,
         (SELECT * FROM stats WHERE arm = 'B') b
    """,
    doc="two-sample A/B t-statistic (Welch) from exact integer moments "
    "— experiment evaluation with bit-stable means/variances",
)
def agg_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t-statistic for a deterministic 50/50 user split on
    purchase values: means and population variances come off the
    exact quantized-integer moment path (cancellation-free, engine-
    identical); the t composition is a handful of correctly-rounded
    float ops. One map-side-combined aggregation over two groups —
    the nightly experiment-scorecard query at any scale.
    """
    ev = load(spark, "events", sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    qv = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    m = ev.groupBy(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm")
    ).agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum(qv.cast("decimal(38,0)")).alias("s1"),
        F.sum(qv * qv).alias("s2"),
    )
    nd = m.n.cast("double")
    stats = m.select(
        "arm",
        m.n.cast("long").alias("n"),
        (dec_to_double(m.s1) / nd / F.lit(1e6)).alias("mean"),
        (dec_to_double(m.n * m.s2 - m.s1 * m.s1) / (nd * nd) / F.lit(1e12)).alias(
            "var_pop"
        ),
    )
    a = stats.filter(F.col("arm") == "A").alias("a")
    b = stats.filter(F.col("arm") == "B").alias("b")
    return a.crossJoin(b).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.mean").alias("mean_a"),
        F.col("b.mean").alias("mean_b"),
        (
            (F.col("a.mean") - F.col("b.mean"))
            / F.sqrt(
                F.col("a.var_pop") / F.col("a.n")
                + F.col("b.var_pop") / F.col("b.n")
            )
        ).alias("t_stat"),
    )


# ---------- count-min sketch heavy hitters (contract oracle) ----------

_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row
_CMS_SEED = 100
_CMS_TOPK = 5


@register(
    "agg_cms_heavy_hitters",
    f"""
    WITH ex AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM events GROUP BY user_id
    ),
    top AS (
      SELECT user_id, n_exact,
             ROW_NUMBER() OVER (ORDER BY n_exact DESC, user_id) AS rn
      FROM ex
    )
    SELECT user_id, n_exact, TRUE AS no_undercount, TRUE AS within_bound
    FROM top WHERE rn <= {_CMS_TOPK}
    """,
    doc="count-min-sketch heavy hitters with contract oracle: exact "
    f"top-{_CMS_TOPK} key counts hash-checked + pinned verdicts that "
    "the CMS estimate never undercounts and stays within the 4·N/w "
    "Markov bound — completes the mergeable-sketch family "
    "(HLL, bitmap, CMS)",
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: d=4 hash rows × w=256 counters; every event
    increments one counter per row, an estimate reads the MIN of a
    key's d counters. Counters are plain partial-aggregatable sums →
    the sketch is mergeable (backfill/increment safe) and the whole
    build shuffles at most d·w = 1024 counter cells regardless of
    event volume — the structural win over exact per-key counts at
    100 TB.

    CMS guarantees (one-sided error) become the pinned verdicts:
    ``no_undercount`` (est ≥ exact, always true by construction) and
    ``within_bound`` (est ≤ exact + 4·N/w — Markov at 4× the expected
    collision mass, per-row failure odds ≤ 1/4⁴ with d=4; fixed
    seeds make the sketch deterministic, so the bound either holds
    reproducibly or the build is broken).

    The reported key set is the exact top-5 (oracle-computable);
    the sketch side is what the verdict columns exercise.
    """
    ev = load(spark, "events", sf_dir)
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            F.xxhash64("user_id", F.lit(_CMS_SEED + r)),
                            F.lit(_CMS_W),
                        ).alias("p"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.r", "c.p")
    counters = cells.groupBy("r", "p").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    key_cells = exact.select(
        "user_id",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.pmod(
                            F.xxhash64("user_id", F.lit(_CMS_SEED + r)),
                            F.lit(_CMS_W),
                        ).alias("p"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("c"),
    ).select("user_id", "n_exact", "c.r", "c.p")
    est = (
        key_cells.join(F.broadcast(counters), ["r", "p"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("cnt").alias("est"))
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    # top-K keys via orderBy+limit → TakeOrderedAndProject, then ranks
    # re-derived on the K survivors only
    top = (
        est.orderBy(F.col("n_exact").desc(), F.col("user_id"))
        .limit(_CMS_TOPK)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(one_part("user_id")).orderBy(
                    F.col("n_exact").desc(), F.col("user_id")
                )
            ),
        )
        .join(F.broadcast(total))
    )
    return top.select(
        "user_id",
        "n_exact",
        (F.col("est") >= F.col("n_exact")).alias("no_undercount"),
        (
            F.col("est")
            <= F.col("n_exact") + F.lit(4) * F.col("n_total") / F.lit(_CMS_W)
        ).alias("within_bound"),
    )


# ---------- chi-square independence test ----------


@register(
    "agg_chi2_independence",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, SUM(obs) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, SUM(obs) AS ct FROM o GROUP BY source),
    n AS (SELECT SUM(obs) AS n FROM o),
    cells AS (
      SELECT o.lang, o.source,
             CAST(FLOOR(
               CAST(CAST((o.obs * n.n - r.rt * c.ct)
                         * (o.obs * n.n - r.rt * c.ct) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(r.rt * c.ct * n.n AS VARCHAR) AS DOUBLE)
               * 1000000000.0 + 0.5) AS HUGEINT) AS contrib_q
      FROM o JOIN r ON r.lang = o.lang
             JOIN c ON c.source = o.source, n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(CAST(SUM(contrib_q) AS VARCHAR) AS DOUBLE)
             / 1000000000.0 AS chi2
    FROM cells
    """,
    doc="chi-square independence test (lang × source contingency): "
    "per-cell (o·n − r·c)²/(r·c·n) from exact integer marginals, "
    "each contribution quantized to 1e-9 BEFORE the sum — the "
    "engine/order-agnostic form of the classic Σ(O−E)²/E",
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is language independent of source? χ² = Σ (O−E)²/E with
    E = row·col/n is rewritten (o·n − r·c)²/(r·c·n): numerator and
    denominator are exact integers, so each cell's contribution is
    ONE correctly-rounded float division — then quantized to an
    integer (1e-9 grid) so the cross-cell SUM is integer arithmetic,
    immune to aggregation order. (Significance thresholds live
    client-side; the statistic is what the engine owes.)

    Scale: one map-side-combined contingency pass; marginals are
    dimension-sized re-aggregations of the cell table (broadcast back
    in). Never a second corpus scan.
    """
    docs = load(spark, "documents", sf_dir)
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    diff = F.col("obs") * F.col("n") - F.col("rt") * F.col("ct")
    den = F.col("rt") * F.col("ct") * F.col("n")
    contrib_q = F.floor(
        (diff * diff).cast("string").cast("double")
        / den.cast("string").cast("double")
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    cells = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .join(F.broadcast(n))
        .select(contrib_q.alias("contrib_q"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            F.sum("contrib_q").cast("string").cast("double") / F.lit(1e9)
        ).alias("chi2"),
    )


# ---------- two-sample Kolmogorov-Smirnov ----------


@register(
    "agg_ks_test",
    """
    WITH s AS (
      SELECT value, event_id,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in_a,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS in_b
      FROM events WHERE event_type IN ('click', 'error')
    ),
    n AS (
      SELECT CAST(SUM(in_a) AS HUGEINT) AS na,
             CAST(SUM(in_b) AS HUGEINT) AS nb
      FROM s
    ),
    c AS (
      SELECT value,
             CAST(SUM(in_a) OVER w AS HUGEINT) AS ca,
             CAST(SUM(in_b) OVER w AS HUGEINT) AS cb
      FROM s
      WINDOW w AS (ORDER BY value, event_id ROWS UNBOUNDED PRECEDING)
    ),
    d AS (
      SELECT c.value, ABS(c.ca * n.nb - c.cb * n.na) AS dnum, n.na, n.nb
      FROM c, n
    ),
    best AS (
      SELECT value, dnum, na, nb,
             ROW_NUMBER() OVER (ORDER BY dnum DESC, value) AS rn
      FROM d
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           FLOOR(CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                 * 1000000.0 + 0.5) / 1000000.0 AS ks_d,
           value AS d_location
    FROM best WHERE rn = 1
    """,
    doc="two-sample Kolmogorov-Smirnov statistic (click vs error "
    "value distributions): D = max |F₁−F₂| found as an exact integer "
    "argmax of |c₁·n₂ − c₂·n₁| over the merged order — distribution-"
    "drift detection with zero float comparisons on the argmax path",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two samples: the KS statistic's sup
    is attained at a data point, so ranking the exact integer
    numerator |c₁·n₂ − c₂·n₁| over the merged sorted order finds D
    without a single float comparison; one correctly-rounded division
    renders it at the end.

    Scale: the merged ECDF needs a global order — fine for per-key
    drift checks (the common case: window the cumsum by key); for a
    corpus-wide KS at 100 TB, pre-bucket values (e.g. 10⁴ quantile
    bins), aggregate per-bucket counts map-side, and run the argmax
    over buckets — same integers, bounded shuffle (noted here, bucket
    variant left to the caller's resolution choice).
    """
    ev = load(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "error")
    )
    s = ev.select(
        "value",
        "event_id",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("in_a"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("in_b"),
    )
    n = s.agg(
        F.sum("in_a").cast("decimal(20,0)").alias("na"),
        F.sum("in_b").cast("decimal(20,0)").alias("nb"),
    )
    c = with_prefix_aggs(
        s,
        "value",
        ("event_id",),
        [("in_a", "sum", "ca", True), ("in_b", "sum", "cb", True)],
    ).select(
        "value",
        F.col("ca").cast("decimal(20,0)").alias("ca"),
        F.col("cb").cast("decimal(20,0)").alias("cb"),
    )
    d = c.join(F.broadcast(n)).select(
        "value",
        F.abs(
            F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
        ).alias("dnum"),
        "na",
        "nb",
    )
    # argmax over (dnum desc, value asc) is ONE map-side-combined
    # aggregate (min_by on a lexicographic struct key) — no rank pass,
    # no shuffle beyond the 1-row reduce
    best = d.agg(
        F.min_by(
            F.struct("na", "nb", "dnum", "value"),
            F.struct(
                (-F.col("dnum")).alias("nd"), F.col("value").alias("v")
            ),
        ).alias("b")
    ).select("b.na", "b.nb", "b.dnum", "b.value")
    return best.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        dround(
            F.col("dnum").cast("string").cast("double")
            / (
                F.col("na").cast("string").cast("double")
                * F.col("nb").cast("string").cast("double")
            ),
            6,
        ).alias("ks_d"),
        F.col("value").alias("d_location"),
    )


# ---------- Theil–Sen robust trend ----------


@register(
    "agg_theil_sen",
    """
    WITH series AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS x,
             CAST(CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT))
                  AS VARCHAR) AS DOUBLE) / 1000000.0 / COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             (b.y - a.y) / (b.x - a.x) AS slope
      FROM series a JOIN series b
        ON b.event_type = a.event_type AND b.x > a.x
    ),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope, event_type) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM pairs
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           FLOOR(slope * 1000000000.0 + 0.5) / 1000000000.0
             AS slope_per_hour
    FROM ranked WHERE rn = (n + 1) // 2
    """,
    doc="Theil–Sen robust trend per event-type series: discrete median "
    "of all pairwise slopes over the hourly means — outlier-resistant "
    "where agg_linear_trend's OLS is not; slopes are single divisions "
    "of engine-exact values, the median is an element pick",
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust twin of ``agg_linear_trend``: median of the O(n²)
    pairwise slopes (29% breakdown point vs OLS's zero). Each hourly
    mean is the exact-integer quantized mean (identical double bits
    in both engines), each slope ONE further correctly-rounded
    division, and the median picks an actual element by rank — no
    float accumulation anywhere.

    Scale: the O(n²) pair join is per-SERIES (hourly buckets, so n =
    hours, not events — the corpus reduction happened in the
    map-side-combined bucket aggregation). For year-long series cap
    pairs by striding (every k-th bucket as the left side) — the
    estimator tolerates it; the plan shape is unchanged.
    """
    ev = load(spark, "events", sf_dir)
    series = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("x"),
    ).agg(
        (
            F.sum(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("string")
            .cast("double")
            / F.lit(1e6)
            / F.count(F.lit(1))
        ).alias("y")
    )
    a = series.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = series.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pairs = a.join(
        b,
        (F.col("event_type") == F.col("et_b")) & (F.col("xb") > F.col("xa")),
    ).select(
        "event_type",
        ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa"))).alias(
            "slope"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "event_type")
    wn = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        dround("slope", 9).alias("slope_per_hour"),
    )


# ---------- HLL set algebra (intersection via inclusion-exclusion) ----------


@register(
    "agg_hll_intersection",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
             AS n_both_exact,
           TRUE AS estimate_ok
    """,
    doc="HLL set algebra: audience overlap |A∩B| estimated by "
    "inclusion-exclusion over three sketches (A, B, A∪B) — exact "
    "overlap hash-checked + a pinned tolerance verdict on the "
    "estimate; the sketch-only overlap report that needs no exact "
    "distinct join at 100 TB",
)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from sketches alone: est(A∩B) = est(A) +
    est(B) − est(A∪B). Union sketches merge losslessly (register
    max), so the third term costs nothing extra in a sketch store;
    inclusion-exclusion inherits both sketches' error — the verdict
    tolerance (10% of the union + 2) reflects that honestly. The
    exact overlap (a real distinct join) is computed here only to
    pin the contract.

    Scale: three map-side-merged sketches vs an exact
    distinct-intersect join that shuffles both key sets — the whole
    point of keeping per-segment HLLs in the metrics store.
    """
    ev = load(spark, "events", sf_dir)
    both = ev.filter(F.col("event_type").isin("click", "view"))
    a = both.filter(F.col("event_type") == "click").select(
        "user_id"
    ).distinct()
    b = both.filter(F.col("event_type") == "view").select(
        "user_id"
    ).distinct()
    # fully lazy: the three HLL sketches build in ONE pass over the
    # filtered stream (when() nulls exclude the other segment — the
    # sketch sees the identical distinct set as a pre-filter would);
    # exact/union counts and the tolerance verdict are in-plan columns,
    # so plan construction runs ZERO jobs (round-3's five eager
    # collect()/count() calls were the eager-builder anti-pattern)
    est = both.agg(
        F.approx_count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id")),
            rsd=0.02,
        ).alias("ea"),
        F.approx_count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id")),
            rsd=0.02,
        ).alias("eb"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("eu"),
    )
    exact = a.join(b, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_both_exact")
    )
    n_union = both.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("nu")
    )
    return (
        a.agg(F.count(F.lit(1)).cast("long").alias("n_click"))
        .join(b.agg(F.count(F.lit(1)).cast("long").alias("n_view")))
        .join(F.broadcast(exact))
        .join(F.broadcast(est))
        .join(F.broadcast(n_union))
        .select(
            "n_click",
            "n_view",
            "n_both_exact",
            (
                F.abs(
                    (F.col("ea") + F.col("eb") - F.col("eu")).cast(
                        "double"
                    )
                    - F.col("n_both_exact").cast("double")
                )
                <= 0.1 * F.col("nu").cast("double") + 2.0
            ).alias("estimate_ok"),
        )
    )


@register(
    "agg_seasonal_hod",
    f"""
    WITH h AS (SELECT event_type,
                 CAST(hour({EVENTS_TS_SQL}) AS BIGINT) AS hod,
                 COUNT(*) AS n_events,
                 {sql_davg('value')} AS avg_value
               FROM events GROUP BY 1, 2),
    w AS (SELECT *, SUM(n_events) OVER (PARTITION BY event_type) AS tot,
            ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY n_events DESC, hod) AS rn
          FROM h)
    SELECT event_type, hod, n_events, avg_value,
           CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
           (rn = 1) AS is_peak_hour
    FROM w
    """,
    doc="hour-of-day seasonal profile per event type: volume share, "
    "deterministic mean value, peak-hour flag — the diurnal baseline "
    "behind time-of-day-aware anomaly thresholds",
)
def agg_seasonal_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal seasonality profile. Event streams are strongly
    hour-of-day periodic; a flat anomaly threshold either drowns in
    peak-hour noise or sleeps through off-peak incidents, so monitors
    normalize against this profile (the reference's pipeline has the
    same need in reverse: its TOD feature, ``windows.time_features``,
    feeds hour-of-day to the model). ``share`` is one division of two
    exact integers and the peak flag an integer ranking — engine-exact
    without quantization; means go through ``davg``.

    Scale: the groupBy collapses to ≤ 24·|types| rows with map-side
    combine — one shuffle over agg states, the window runs on the
    collapsed frame. Holds unchanged at any corpus size.
    """
    ev = load(spark, "events", sf_dir)
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        davg("value").alias("avg_value"),
    )
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), "hod"
    )
    return h.select(
        "event_type",
        "hod",
        "n_events",
        "avg_value",
        (
            F.col("n_events").cast("double")
            / F.sum("n_events").over(wt).cast("double")
        ).alias("share"),
        (F.row_number().over(wr) == 1).alias("is_peak_hour"),
    )


@register(
    "agg_quantiles_cont",
    "WITH r AS (SELECT event_type, value, "
    "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) "
    "AS rn, COUNT(*) OVER (PARTITION BY event_type) AS n FROM events), "
    "p AS (SELECT event_type, MAX(n) AS n_rows, "
    "MAX(CASE WHEN rn = FLOOR(0.5 * (n - 1) + 1) THEN value END) AS lo5, "
    "MAX(CASE WHEN rn = CEIL(0.5 * (n - 1) + 1) THEN value END) AS hi5, "
    "MAX(CASE WHEN rn = FLOOR(0.9 * (n - 1) + 1) THEN value END) AS lo9, "
    "MAX(CASE WHEN rn = CEIL(0.9 * (n - 1) + 1) THEN value END) AS hi9 "
    "FROM r GROUP BY event_type) "
    "SELECT event_type, n_rows, "
    "FLOOR((lo5 + (hi5 - lo5) * (0.5 * (n_rows - 1) + 1 - FLOOR(0.5 * (n_rows - 1) + 1))) * 1000000.0 + 0.5) / 1000000.0 AS p50_cont, "
    "FLOOR((lo9 + (hi9 - lo9) * (0.9 * (n_rows - 1) + 1 - FLOOR(0.9 * (n_rows - 1) + 1))) * 1000000.0 + 0.5) / 1000000.0 AS p90_cont "
    "FROM p",
    doc="continuous (linearly interpolated) p50/p90 per group via "
    "rank-selected bracketing elements — percentile_cont semantics "
    "with engine-exact arithmetic, no built-in interpolation "
    "implementation differences",
)
def agg_quantiles_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated quantiles (numpy/percentile_cont 'linear'
    semantics): position (n−1)·q+1 brackets two ranked elements,
    result = lo + (hi−lo)·frac. Each step — the position product,
    floor/ceil, the fraction, one multiply, one add — is a single
    correctly-rounded IEEE op on identical operands in both engines,
    so the interpolated value is bit-identical WITHOUT trusting two
    engines' percentile_cont implementations to agree on boundary
    conventions (they famously don't across databases).

    Plan shape is ``agg_quantiles_disc``: one shuffle on the group
    key; rank window + final aggregation share the partitioning."""
    ev = load(spark, "events", sf_dir)
    wq = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(wq).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def bracket(q: float):
        pos = F.lit(q) * (F.col("n") - 1) + 1
        lo = F.max(F.when(F.col("rn") == F.floor(pos), F.col("value")))
        hi = F.max(F.when(F.col("rn") == F.ceil(pos), F.col("value")))
        return lo, hi

    lo5, hi5 = bracket(0.5)
    lo9, hi9 = bracket(0.9)
    p = r.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        lo5.alias("lo5"),
        hi5.alias("hi5"),
        lo9.alias("lo9"),
        hi9.alias("hi9"),
    )

    def interp(lo: str, hi: str, q: float) -> Column:
        pos = F.lit(q) * (F.col("n_rows") - 1) + 1
        frac = pos - F.floor(pos)
        return F.col(lo) + (F.col(hi) - F.col(lo)) * frac

    return p.select(
        "event_type",
        "n_rows",
        # 6-dp floor-quantize: the lo+(hi-lo)*frac chain can differ by
        # one ULP across engines (fused-multiply-add); dround is the
        # repo-wide answer for rational-ratio outputs
        dround(interp("lo5", "hi5", 0.5), 6).alias("p50_cont"),
        dround(interp("lo9", "hi9", 0.9), 6).alias("p90_cont"),
    )


@register(
    "agg_entropy",
    """
    WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents
               GROUP BY source, lang),
    t AS (SELECT source, SUM(n) AS tot, COUNT(*) AS n_langs
          FROM c GROUP BY source),
    terms AS (SELECT c.source, t.tot, t.n_langs,
                CAST(FLOOR(-(CAST(c.n AS DOUBLE) / t.tot)
                  * log2(CAST(c.n AS DOUBLE) / t.tot)
                  * 1000000000.0 + 0.5) AS BIGINT) AS term_q
              FROM c JOIN t ON t.source = c.source)
    SELECT source, CAST(MAX(tot) AS BIGINT) AS n_docs,
           CAST(MAX(n_langs) AS BIGINT) AS n_langs,
           CAST(SUM(term_q) AS DOUBLE) / 1000000000.0 AS lang_entropy_bits
    FROM terms GROUP BY source
    """,
    doc="per-source Shannon entropy of the language distribution "
    "(bits): each -p*log2(p) term quantized to 1e-9 BEFORE the sum "
    "(chi-square convention) — the domain-diversity score a corpus "
    "mixer balances on",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical Shannon entropy per group — the diversity summary
    behind corpus-mixing decisions (a source whose language entropy
    is near zero is monolingual; near log2(k) is balanced). Each
    −p·log₂p term is computed from one exact division then
    floor-quantized to the 1e-9 grid BEFORE the cross-term sum, so
    the sum is integer arithmetic — the same convention as
    ``agg_chi2_independence`` — and log2's last-ulp differences
    between libm implementations cannot reach the result.

    Scale: two map-side-combined aggregations on (source, lang) then
    (source); term count is bounded by the category product, never
    the corpus.
    """
    docs = load(spark, "documents", sf_dir)
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("n").cast("double") / F.col("tot")
    term_q = F.floor(-p * F.log2(p) * F.lit(1e9) + F.lit(0.5)).cast("long")
    terms = c.join(F.broadcast(t), "source").select(
        "source", "tot", "n_langs", term_q.alias("term_q")
    )
    return terms.groupBy("source").agg(
        F.max("tot").cast("long").alias("n_docs"),
        F.max("n_langs").cast("long").alias("n_langs"),
        (F.sum("term_q").cast("double") / F.lit(1e9)).alias(
            "lang_entropy_bits"
        ),
    )


_JK_R = 16  # delete-one-16th jackknife replicates


def _jk_oracle() -> str:
    reps = ", ".join(
        sql_davg(f"CASE WHEN bkt <> {r} THEN value END") + f" AS m{r}"
        for r in range(_JK_R)
    )
    tmpl = """
    WITH b AS (SELECT event_type, value,
                 (((event_id % {PRIME}) * {MULT}) % {PRIME}) % 16 AS bkt
               FROM events),
    m AS (SELECT event_type, COUNT(*) AS n,
            {THETA} AS theta,
            {REPS}
          FROM b GROUP BY event_type),
    s AS (SELECT event_type, n, theta, (m0 + m1 + m2 + m3 + m4 + m5 + m6 + m7 + m8 + m9 + m10 + m11 + m12 + m13 + m14 + m15) / 16.0 AS mbar,
            m0, m1, m2, m3, m4, m5, m6, m7, m8, m9, m10, m11, m12, m13,
            m14, m15
          FROM m),
    v AS (SELECT event_type, n, theta, ((m0 - mbar) * (m0 - mbar) + (m1 - mbar) * (m1 - mbar) + (m2 - mbar) * (m2 - mbar) + (m3 - mbar) * (m3 - mbar) + (m4 - mbar) * (m4 - mbar) + (m5 - mbar) * (m5 - mbar) + (m6 - mbar) * (m6 - mbar) + (m7 - mbar) * (m7 - mbar) + (m8 - mbar) * (m8 - mbar) + (m9 - mbar) * (m9 - mbar) + (m10 - mbar) * (m10 - mbar) + (m11 - mbar) * (m11 - mbar) + (m12 - mbar) * (m12 - mbar) + (m13 - mbar) * (m13 - mbar) + (m14 - mbar) * (m14 - mbar) + (m15 - mbar) * (m15 - mbar)) AS ss FROM s)
    SELECT event_type, n, theta,
           (FLOOR(SQRT(ss * (16 - 1.0) / 16.0) * 1000000.0 + 0.5) / 1000000.0) AS jk_se,
           (FLOOR((theta - 2.0 * SQRT(ss * (16 - 1.0) / 16.0)) * 1000000.0 + 0.5) / 1000000.0) AS ci_lo,
           (FLOOR((theta + 2.0 * SQRT(ss * (16 - 1.0) / 16.0)) * 1000000.0 + 0.5) / 1000000.0) AS ci_hi
    FROM v
    """
    return (
        tmpl.replace("{PRIME}", str(_SPLIT_PRIME))
        .replace("{MULT}", str(_SPLIT_MULT))
        .replace("{THETA}", sql_davg("value"))
        .replace("{REPS}", reps)
    )


_JK_ORACLE = _jk_oracle()


@register(
    "agg_jackknife_ci",
    _JK_ORACLE,
    doc=f"deterministic jackknife CI: {_JK_R} delete-one-bucket "
    "replicate means (multiplicative-hash buckets, ONE scan via "
    "conditional aggregation), SE = sqrt((R−1)/R·Σ(mᵣ−m̄)²), ±2·SE "
    "interval — uncertainty quantification with zero randomness",
)
def agg_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence intervals without rand(): rows are assigned to R
    hash buckets (the reproducible-split hash), replicate r is the
    mean EXCLUDING bucket r, and the delete-one-group jackknife
    SE = √((R−1)/R·Σ(mᵣ−m̄)²) bounds the sampling error of the full
    mean. Every replicate mean is a deterministic ``davg`` (the
    conditional aggregation runs all R replicates in ONE scan — no
    data is scattered R×), so the interval is bit-stable across
    engines, runs, and partitionings — an uncertainty number a
    nightly report can diff exactly.

    Scale: one map-side-combined shuffle carrying R+1 aggregate
    states per group; R is a constant. The same shape serves any
    ``dsum``-family statistic.
    """
    ev = load(spark, "events", sf_dir)
    bkt = (
        (F.col("event_id") % F.lit(_SPLIT_PRIME)) * F.lit(_SPLIT_MULT)
    ) % F.lit(_SPLIT_PRIME) % F.lit(_JK_R)
    b = ev.select("event_type", "value", bkt.alias("bkt"))
    reps = [
        davg(f"CASE WHEN bkt != {r} THEN value END").alias(f"m{r}")
        for r in range(_JK_R)
    ]
    m = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        davg("value").alias("theta"),
        *reps,
    )
    mbar = sum(F.col(f"m{r}") for r in range(_JK_R)) / F.lit(float(_JK_R))
    ss = sum(
        (F.col(f"m{r}") - mbar) * (F.col(f"m{r}") - mbar)
        for r in range(_JK_R)
    )
    se = F.sqrt(ss * F.lit((_JK_R - 1.0)) / F.lit(float(_JK_R)))
    return m.select(
        "event_type",
        "n",
        "theta",
        dround(se, 6).alias("jk_se"),
        dround(F.col("theta") - 2.0 * se, 6).alias("ci_lo"),
        dround(F.col("theta") + 2.0 * se, 6).alias("ci_hi"),
    )


_ANALYZE_COLS = [
    # (name, kind) — kind drives the numeric canonicalization:
    # ints/dates → exact doubles; strings → no min/max (formatting is
    # not cross-engine stable); prices are cents-exact so double-safe
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
]


def _sql_analyze_one(name: str, kind: str) -> str:
    if kind == "int" or kind == "num":
        mn = f"CAST(MIN({name}) AS DOUBLE)"
        mx = f"CAST(MAX({name}) AS DOUBLE)"
    elif kind == "date":
        mn = f"CAST(datediff('day', DATE '1970-01-01', MIN({name})) AS DOUBLE)"
        mx = f"CAST(datediff('day', DATE '1970-01-01', MAX({name})) AS DOUBLE)"
    else:
        mn = "CAST(NULL AS DOUBLE)"
        mx = "CAST(NULL AS DOUBLE)"
    return (
        f"SELECT '{name}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_nulls, "
        f"CAST(COUNT(DISTINCT {name}) AS BIGINT) AS ndv, "
        f"{mn} AS min_val, {mx} AS max_val FROM orders"
    )


@register(
    "analyze_table_stats",
    " UNION ALL ".join(
        _sql_analyze_one(n, k) for n, k in _ANALYZE_COLS
    ),
    doc="ANALYZE-style column statistics (rowcount, nulls, exact NDV, "
    "min/max) per column of orders — the table profile a cost-based "
    "optimizer and a data catalog consume",
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS surface as
    a query: one row per column with rowcount, null count, exact
    distinct count, and min/max canonicalized to DOUBLE (dates as
    epoch days; strings carry no min/max — cross-engine string
    formatting of numerics is unstable, and a catalog stores string
    bounds separately anyway).

    Implementation: ONE aggregation pass computing every per-column
    aggregate side by side (Catalyst plans the N exact
    count-distincts as one Expand ×N + two-level aggregate), then an
    explode-to-long projection of the single result row — no
    per-column scans, no union of N jobs (the oracle's UNION ALL form
    rescans per column; Spark's form reads the table once).

    Scale: exact NDV on every column of a 100 TB table is an Expand
    that multiplies scan output ×N_cols into one shuffle — the
    documented production swap is ``approx_count_distinct`` (HLL,
    no Expand, mergeable partials; see ``agg_approx_distinct`` for
    the contract) once estimates are acceptable. Everything else here
    (count/nulls/min/max) is a plain map-side-combined single pass.
    """
    o = load(spark, "orders", sf_dir)

    def mm(name: str, kind: str):
        if kind in ("int", "num"):
            return F.min(name).cast("double"), F.max(name).cast("double")
        if kind == "date":
            return (
                F.datediff(F.min(name), F.lit("1970-01-01")).cast("double"),
                F.datediff(F.max(name), F.lit("1970-01-01")).cast("double"),
            )
        return (
            F.lit(None).cast("double"),
            F.lit(None).cast("double"),
        )

    aggs = [F.count(F.lit(1)).alias("_n")]
    for n, k in _ANALYZE_COLS:
        mn, mx = mm(n, k)
        aggs += [
            F.count(n).alias(f"_nn_{n}"),
            F.countDistinct(n).alias(f"_ndv_{n}"),
            mn.alias(f"_mn_{n}"),
            mx.alias(f"_mx_{n}"),
        ]
    one = o.agg(*aggs)
    stack_args = []
    for n, _ in _ANALYZE_COLS:
        stack_args += [
            f"'{n}'",
            "_n",
            f"_n - _nn_{n}",
            f"_ndv_{n}",
            f"_mn_{n}",
            f"_mx_{n}",
        ]
    return one.select(
        F.expr(
            f"stack({len(_ANALYZE_COLS)}, "
            + ", ".join(stack_args)
            + ") AS (col_name, n_rows, n_nulls, ndv, min_val, max_val)"
        )
    ).select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("ndv").cast("long").alias("ndv"),
        "min_val",
        "max_val",
    )


@register(
    "agg_log_histogram",
    f"""
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT) AS n
      FROM events
    ), b AS (
      SELECT event_type,
             CASE WHEN n <= 0 THEN 0
                  ELSE length(ltrim(bin(n), '0')) END AS bucket
      FROM q
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket = 0 THEN 0.0
                ELSE CAST((1 << (bucket - 1)) AS DOUBLE) / 1000.0
           END AS bucket_lo,
           CASE WHEN bucket = 0 THEN 0.001
                ELSE CAST((1 << bucket) AS DOUBLE) / 1000.0
           END AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b GROUP BY event_type, bucket
    """,
    doc="HDR-style log₂-bucketed histogram of event values per type: "
    "power-of-two buckets from the integer bit length — mergeable, "
    "constant-memory, the latency-histogram pattern",
)
def agg_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logarithmic histogram (the HdrHistogram/Prometheus-bucket
    shape): quantize to integer thousandths, bucket by bit length —
    bucket b covers [2^(b−1), 2^b) thousandths, giving constant
    relative precision across magnitudes with a handful of buckets.

    Bucketing is INTEGER (highest set bit via the binary-string
    length, identical in both engines; no float log2, whose
    correctly-rounded-ness is not guaranteed cross-engine). Bucket
    bounds are exact powers of two divided by 1000 — both engines
    compute the identical double.

    Mergeability: bucket counts are plain sums — partial histograms
    from any split merge by addition (contrast ``agg_approx_quantile``
    where only the sketch merges). That is why latency pipelines ship
    histograms, not percentiles, to the aggregator.

    Scale: one map-side-combined groupBy on (type, bucket) — at most
    |types|·~30 groups cross the wire regardless of corpus size.
    """
    ev = load(spark, "events", sf_dir)
    n = F.floor(F.col("value") * 1000.0 + F.lit(0.5)).cast("long")
    bucket = F.when(n <= 0, F.lit(0)).otherwise(
        F.length(F.bin(n))
    ).cast("long")
    # shiftleft's bit count must be a literal in the PySpark helper;
    # the SQL form accepts a column
    lo = F.when(F.col("bucket") == 0, F.lit(0.0)).otherwise(
        F.expr("cast(shiftleft(1L, cast(bucket - 1 as int)) as double)")
        / 1000.0
    )
    hi = F.when(F.col("bucket") == 0, F.lit(0.001)).otherwise(
        F.expr("cast(shiftleft(1L, cast(bucket as int)) as double)")
        / 1000.0
    )
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            "bucket",
            lo.alias("bucket_lo"),
            hi.alias("bucket_hi"),
            "n_events",
        )
    )


# Benford first-digit probabilities log10(1+1/d), precomputed as
# literals so neither engine evaluates a transcendental at query time
_BENFORD_P = {
    1: 0.301029995663981,
    2: 0.176091259055681,
    3: 0.124938736608300,
    4: 0.096910013008056,
    5: 0.079181246047625,
    6: 0.066946789630613,
    7: 0.057991946977687,
    8: 0.051152522447381,
    9: 0.045757490560675,
}


def _benford_case_sql() -> str:
    return (
        "CASE first_digit "
        + " ".join(f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items())
        + " END"
    )


@register(
    "agg_benford_check",
    f"""
    WITH v AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM orders WHERE o_totalprice >= 1.0
    ), c AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM v
      GROUP BY first_digit
    ), t AS (SELECT SUM(n_obs) AS n FROM c)
    SELECT c.first_digit, c.n_obs,
           CAST(FLOOR(({_benford_case_sql()}) * t.n * 1000000.0 + 0.5)
                AS BIGINT) AS expected_ppm_scaled,
           (FLOOR(
              ((CAST(c.n_obs AS DOUBLE) - ({_benford_case_sql()}) * t.n)
               * (CAST(c.n_obs AS DOUBLE) - ({_benford_case_sql()}) * t.n)
               / (({_benford_case_sql()}) * t.n)) * 1000000000.0 + 0.5)
            / 1000000000.0) AS chi2_term
    FROM c CROSS JOIN t
    """,
    doc="Benford's-law first-digit audit of order totals: observed "
    "counts vs log10(1+1/d) expectation (precomputed literals) with "
    "per-digit chi-square terms — the fraud/synthetic-data detector",
)
def agg_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution audit (Benford's law): naturally
    generated multiplicative quantities follow P(d) = log10(1+1/d);
    fabricated or truncated data does not. Standard forensic test for
    financial columns and a synthetic-data tell.

    The Benford probabilities are PRECOMPUTED literals — the engine
    never evaluates log10, so there is no transcendental to disagree
    on. The first digit is string extraction from an exact integer
    (no float formatting), per-digit chi-square terms are
    floor-quantized at 1e-9 before any consumer sums them (the
    chi2/entropy convention), and the expected count is emitted as an
    exact integer ppm-scaled value.

    Scale: one map-side-combined count by digit (≤9 groups), a 1-row
    total joined back. Nothing else.
    """
    o = load(spark, "orders", sf_dir).filter(F.col("o_totalprice") >= 1.0)
    v = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("first_digit")
    )
    c = v.groupBy("first_digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = F.broadcast(c.agg(F.sum("n_obs").alias("n")))
    p = F.col("first_digit")
    bp = None
    for d, prob in _BENFORD_P.items():
        bp = (
            F.when(p == d, F.lit(prob))
            if bp is None
            else bp.when(p == d, F.lit(prob))
        )
    exp_cnt = bp * F.col("n")
    obs = F.col("n_obs").cast("double")
    chi_term = (obs - exp_cnt) * (obs - exp_cnt) / exp_cnt
    return c.crossJoin(t).select(
        "first_digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.floor(exp_cnt * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("expected_ppm_scaled"),
        (F.floor(chi_term * 1000000000.0 + F.lit(0.5)) / 1000000000.0).alias(
            "chi2_term"
        ),
    )


@register(
    "agg_mann_whitney",
    f"""
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events WHERE event_type IN ('click', 'error')
    ), per_val AS (
      SELECT q,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                  AS BIGINT) AS n1v
      FROM v GROUP BY q
    ), ranked AS (
      SELECT q, cnt, n1v,
             COALESCE(SUM(cnt) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per_val
    ), tot AS (
      SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
             CAST(SUM(cnt - n1v) AS BIGINT) AS n2,
             CAST(SUM(n1v * (2 * cum_before + cnt + 1)) AS BIGINT)
               AS r1_x2
      FROM ranked
    )
    SELECT n1, n2, r1_x2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
           (FLOOR((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
              / (2.0 * n1 * n2)) * 1000000000.0 + 0.5) / 1000000000.0)
             AS auc
    FROM tot
    """,
    doc="Mann-Whitney U (click vs error values): doubled average ranks "
    "keep tie handling integer-exact; AUC = U/(n1*n2) is the "
    "probability-of-superiority effect size",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based two-sample test — completes the engine's
    nonparametric trio (``agg_ks_test`` distribution shape,
    ``agg_ab_test`` Welch means, this op: stochastic dominance).
    Mann-Whitney U is the standard when distributions are skewed
    enough that means mislead; its U/(n₁n₂) is exactly
    P(X₁ > X₂) + ½P(X₁ = X₂) — the AUC a ranking evaluation reports.

    Tie discipline: ranks are midranks; a tie group spanning ranks
    a..b has average (a+b)/2, which is half-integer — so everything
    is carried DOUBLED (r1_x2, u_x2 are 2R₁, 2U): pure int64
    arithmetic end to end, ties exact, no float until the final AUC
    division (floor-quantized at 1e-9).

    Scale: one map-side-combined count per distinct quantized value,
    a window over the value spine (|distinct values| rows), one-row
    output. Never sorts raw rows.
    """
    ev = load(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "error")
    )
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    per_val = v.groupBy("q").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n1v"),
    )
    ranked = with_prefix_agg(
        per_val, "q", (), "cnt", "sum", out="cum_before", inclusive=False
    ).withColumn("cum_before", F.coalesce(F.col("cum_before"), F.lit(0)))
    tot = ranked.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("n1v")).cast("long").alias("n2"),
        F.sum(
            F.col("n1v")
            * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r1_x2"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    auc = u1_x2.cast("double") / (2.0 * F.col("n1") * F.col("n2"))
    return tot.select(
        "n1",
        "n2",
        "r1_x2",
        u1_x2.cast("long").alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1_x2).cast("long").alias("u2_x2"),
        (F.floor(auc * 1000000000.0 + F.lit(0.5)) / 1000000000.0).alias(
            "auc"
        ),
    )


@register(
    "agg_runs_test",
    f"""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events
    ), med AS (
      SELECT event_type, q AS m FROM (
        SELECT event_type, q,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY q)
                 AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS nn
        FROM v) r
      WHERE rn = (nn - 1) // 2 + 1
    ), s AS (
      SELECT v.event_type, v.event_id,
             CASE WHEN v.q > med.m THEN 1 ELSE 0 END AS side
      FROM v JOIN med ON v.event_type = med.event_type
    ), runs AS (
      SELECT event_type, side,
             CASE WHEN LAG(side) OVER (PARTITION BY event_type
                    ORDER BY event_id) IS NULL
                  OR LAG(side) OVER (PARTITION BY event_type
                    ORDER BY event_id) <> side
                  THEN 1 ELSE 0 END AS is_new
      FROM s
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(is_new) AS BIGINT) AS n_runs,
           (FLOOR((1.0 + 2.0 * SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
              * SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
              / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0)
             AS expected_runs
    FROM runs
    GROUP BY event_type
    """,
    doc="Wald-Wolfowitz runs test per event-type series: observed "
    "above/below-median runs in event-id order vs the expected "
    "1 + 2*n1*n2/n — the sequence-randomness audit (autocorrelated "
    "feeds show too few runs)",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomness audit on each event-type's value sequence:
    dichotomize against the series' discrete median (exact element
    pick — lower median, both engines identical on the quantized
    integers), count runs of consecutive same-side values in
    event-id order, and compare to the i.i.d. expectation
    1 + 2n₁n₂/n per series. Too few runs ⇒ positive autocorrelation
    (stuck sensor, cached feed); too many ⇒ oscillation. Complements
    the value-distribution tests (``agg_ks_test``,
    ``agg_mann_whitney``) with an ORDER-sensitive check — the only
    one in the audit family.

    Integer discipline: sides are exact comparisons on quantized
    integers; run boundaries are integer lag comparisons; only the
    expectation is a float ratio of exact counts (floor-quantized).

    Scale: every window here partitions by ``event_type`` — the
    per-series form of the classic test, so no executor ever sorts
    more than one series (the repo's sequence-op convention; the
    round-3 global form funneled the whole fact table through one
    partition). The per-series medians are a k-row broadcast.
    """
    ev = load(spark, "events", sf_dir)
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    # per-series lower-median rank computed INSIDE the plan
    # (count over series + row_number), keeping the builder lazy —
    # no eager count job at plan-build time
    wseries = Window.partitionBy("event_type")
    med = (
        v.select(
            "event_type",
            "q",
            F.row_number().over(wseries.orderBy("q")).alias("rn"),
            F.count(F.lit(1)).over(wseries).alias("nn"),
        )
        .filter(F.expr("rn = (nn - 1) div 2 + 1"))
        .select("event_type", F.col("q").alias("m"))
    )
    s = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        (F.col("q") > F.col("m")).cast("int").alias("side"),
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    runs = s.withColumn(
        "is_new",
        F.when(
            F.lag("side").over(w).isNull()
            | (F.lag("side").over(w) != F.col("side")),
            1,
        ).otherwise(0),
    )
    n1 = F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
    n0 = F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
    exp_runs = 1.0 + 2.0 * n1 * n0 / F.count(F.lit(1))
    return runs.groupBy("event_type").agg(
        n1.cast("long").alias("n_above"),
        n0.cast("long").alias("n_below"),
        F.sum("is_new").cast("long").alias("n_runs"),
        (F.floor(exp_runs * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "expected_runs"
        ),
    )


@register(
    "agg_lorenz_deciles",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT))
                  AS BIGINT) AS vq
      FROM events GROUP BY user_id
    ), r AS (
      SELECT vq,
             ROW_NUMBER() OVER (ORDER BY vq, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM u
    ), d AS (
      SELECT CAST(((rk - 1) * 10) // n + 1 AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(vq AS HUGEINT)) AS BIGINT) AS dec_vq
      FROM r GROUP BY 1
    )
    SELECT decile, n_users,
           CAST(dec_vq AS DOUBLE) / 1000000.0 AS decile_value,
           CAST(SUM(CAST(dec_vq AS HUGEINT)) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) * 1000000
                // SUM(CAST(dec_vq AS HUGEINT)) OVER () AS BIGINT)
             AS cum_share_ppm
    FROM d
    """,
    doc="Lorenz curve by value deciles: users ranked by total event "
    "value, per-decile mass and cumulative integer-ppm share — the "
    "concentration curve behind agg_gini's scalar",
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration curve: rank users by their total (quantized)
    event value, split into deciles by exact integer rank arithmetic
    (decile = (rk−1)·10 div n + 1 — handles n not divisible by 10
    without floats), and report each decile's mass plus the cumulative
    share in integer ppm. Reading the top decile's share off this
    table is the "whales" analysis; ``agg_gini`` is this curve's area
    folded to one number.

    Exactness: per-user totals are quantized integer sums; ranks,
    decile ids, and shares are pure integer arithmetic; the only
    float is the presentation /1e6.

    Scale: one fact shuffle to per-user totals (map-side combined),
    then the rank window runs over |users| rows. A global rank is a
    single-partition sort of the user table — at extreme user counts
    swap in repartitionByRange + per-partition offsets (the
    documented global-sort recipe), same arithmetic after.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("long")
        .alias("vq")
    )
    r = with_total_rank(u, "vq", ("user_id",), rn="rk", nn="n").select(
        "vq", "rk", "n"
    )
    d = r.groupBy(
        F.expr("((rk - 1) * 10) div n + 1").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("vq").cast("decimal(38,0)")).alias("dec_vq"),
    )
    w_cum = Window.partitionBy(one_part("decile")).orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.sum("dec_vq").over(w_cum)
    tot = F.sum("dec_vq").over(
        Window.partitionBy()
    )
    return d.select(
        "decile",
        F.col("n_users").cast("long").alias("n_users"),
        (F.col("dec_vq").cast("string").cast("double") / 1000000.0).alias(
            "decile_value"
        ),
        F.expr(
            "cast(sum(dec_vq) over (partition by"
            " coalesce(cast(decile as bigint), 0) % 1 order by decile"
            " rows unbounded preceding)"
            " * 1000000 div sum(dec_vq) over (partition by"
            " coalesce(cast(decile as bigint), 0) % 1) as bigint)"
        ).alias("cum_share_ppm"),
    )


_PSI_BINS = 10
_PSI_BIN_W = 1.0  # fixed-width bins over value ∈ [0, 10)


@register(
    "dq_value_drift_psi",
    f"""
    WITH v AS (
      SELECT event_id % 2 AS half,
             LEAST(CAST(FLOOR(value / {_PSI_BIN_W}) AS BIGINT),
                   {_PSI_BINS - 1}) AS bin
      FROM events
    ), c AS (
      SELECT bin,
             CAST(COUNT(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS n_b
      FROM v GROUP BY bin
    ), t AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
             CAST(SUM(n_b) AS BIGINT) AS tb FROM c
    )
    SELECT c.bin, c.n_a, c.n_b,
           CAST(c.n_a * 1000000 // t.ta AS BIGINT) AS share_a_ppm,
           CAST(c.n_b * 1000000 // t.tb AS BIGINT) AS share_b_ppm,
           (FLOOR(((CAST(c.n_a AS DOUBLE) / t.ta
                    - CAST(c.n_b AS DOUBLE) / t.tb)
                   * LN((CAST(c.n_a AS DOUBLE) / t.ta)
                        / (CAST(c.n_b AS DOUBLE) / t.tb)))
                  * 1000000000.0 + 0.5) / 1000000000.0) AS psi_term
    FROM c CROSS JOIN t
    WHERE c.n_a > 0 AND c.n_b > 0
    """,
    doc=f"population-stability-index drift monitor: value distribution "
    f"across {_PSI_BINS} fixed bins, A/B snapshot halves, per-bin "
    "floor-quantized PSI terms — the ML feature-drift alarm",
)
def dq_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI — the drift metric feature stores alarm on:
    Σ (p_A − p_B)·ln(p_A/p_B) over bins, here emitted as PER-BIN
    terms (the consumer sums them; >0.2 total is the conventional
    "investigate" threshold, and per-bin terms localize WHICH part of
    the distribution moved). Snapshot halves come from event-id
    parity — in production A is last week's histogram, B today's,
    both mergeable counts (``agg_log_histogram`` rationale).

    Determinism: binning is integer floor on the raw double (one
    IEEE division by a power-of-two-free literal — still exactly
    rounded the same in both engines, and the floor lands
    identically); shares are integer ppm; each transcendental term is
    floor-quantized at 1e-9 BEFORE the consumer's sum (the
    chi2/entropy convention). Empty-on-one-side bins are excluded
    (standard PSI practice smooths or drops them; dropping is the
    deterministic choice).

    Scale: one map-side-combined count per (half, bin) — ≤ 2·bins
    states; the totals row is broadcast back. Nothing else.
    """
    ev = load(spark, "events", sf_dir)
    v = ev.select(
        (F.col("event_id") % 2).alias("half"),
        F.least(
            F.floor(F.col("value") / _PSI_BIN_W).cast("long"),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    c = v.groupBy("bin").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("half") == 1, 1)).alias("n_b"),
    )
    t = F.broadcast(
        c.agg(
            F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
        )
    )
    pa = F.col("n_a").cast("double") / F.col("ta")
    pb = F.col("n_b").cast("double") / F.col("tb")
    term = (pa - pb) * F.log(pa / pb)
    return (
        c.crossJoin(t)
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "bin",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("n_a * 1000000 div ta").cast("long").alias("share_a_ppm"),
            F.expr("n_b * 1000000 div tb").cast("long").alias("share_b_ppm"),
            (F.floor(term * 1000000000.0 + F.lit(0.5)) / 1000000000.0).alias(
                "psi_term"
            ),
        )
    )


_CVAR_PCT = 95  # tail beyond the 95th percentile


@register(
    "agg_tail_cvar",
    f"""
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events
    ), rk AS (
      SELECT event_type, q,
             ROW_NUMber() OVER (PARTITION BY event_type ORDER BY q) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ), thresh AS (
      SELECT event_type, q AS var_q, n FROM rk
      WHERE r = ((n * {_CVAR_PCT}) + 99) // 100
    ), tail AS (
      SELECT rk.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_tail,
             SUM(CAST(rk.q AS HUGEINT)) AS s_tail
      FROM rk JOIN thresh t ON t.event_type = rk.event_type
      WHERE rk.q > t.var_q
      GROUP BY rk.event_type
    )
    SELECT t.event_type,
           CAST(t.n AS BIGINT) AS n,
           CAST(t.var_q AS DOUBLE) / 1000000.0 AS var_95,
           COALESCE(ta.n_tail, 0) AS n_tail,
           (FLOOR(COALESCE(CAST(CAST(ta.s_tail AS VARCHAR) AS DOUBLE)
              / ta.n_tail / 1000000.0, CAST(t.var_q AS DOUBLE) / 1000000.0)
              * 1000000.0 + 0.5) / 1000000.0) AS cvar_95
    FROM thresh t LEFT JOIN tail ta ON ta.event_type = t.event_type
    """,
    doc=f"tail risk per event type: VaR ({_CVAR_PCT}th-percentile "
    "element pick) and CVaR (exact mean of values beyond it) — the "
    "expected-shortfall metric that sizes for how bad the tail IS, "
    "not where it starts",
)
def agg_tail_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall: VaR answers "where does the worst 5%
    start", CVaR answers "how bad is it on average once you're
    there" — the difference between a latency SLO and the cost of
    missing it, and the reason risk desks report both.

    VaR is a rank-selected ELEMENT (ceil(n·p/100)-th smallest — the
    engine's discrete-quantile convention: exact, no interpolation);
    the tail mean is an exact integer sum over values strictly above
    it, one float division at the end. Degenerate tails (everything
    ≤ VaR — possible with heavy ties) fall back to VaR itself,
    null-safe on both engines.

    Scale: the rank pass is per-type ordered (series partitioning);
    threshold rows are |types| and broadcast back; tail sums combine
    map-side. For 100 TB use ``agg_log_histogram`` buckets to locate
    the VaR bucket first, then rank only inside it.
    """
    ev = load(spark, "events", sf_dir)
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    w = Window.partitionBy("event_type").orderBy("q")
    wn = Window.partitionBy("event_type")
    rk = v.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    thresh = rk.filter(
        F.col("r") == F.expr(f"((n * {_CVAR_PCT}) + 99) div 100")
    ).select("event_type", F.col("q").alias("var_q"), "n")
    tail = (
        rk.join(
            F.broadcast(
                thresh.select(
                    F.col("event_type").alias("t_et"), F.col("var_q")
                )
            ),
            (F.col("t_et") == F.col("event_type"))
            & (F.col("q") > F.col("var_q")),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum(F.col("q").cast("decimal(38,0)")).alias("s_tail"),
        )
    )
    cvar = F.coalesce(
        F.col("s_tail").cast("string").cast("double")
        / F.col("n_tail")
        / 1000000.0,
        F.col("var_q").cast("double") / 1000000.0,
    )
    return thresh.join(tail, "event_type", "left").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("var_q").cast("double") / 1000000.0).alias("var_95"),
        F.coalesce(F.col("n_tail"), F.lit(0)).cast("long").alias("n_tail"),
        (F.floor(cvar * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "cvar_95"
        ),
    )


@register(
    "agg_spearman_corr",
    """
    WITH q AS (
      SELECT l_returnflag AS g,
             CAST(FLOOR(l_quantity * 1000000.0 + 0.5) AS BIGINT) AS qx,
             CAST(FLOOR(l_extendedprice * 1000000.0 + 0.5) AS BIGINT) AS qy
      FROM lineitem
    ),
    r AS (
      SELECT g,
             2 * RANK() OVER (PARTITION BY g ORDER BY qx)
               + COUNT(*) OVER (PARTITION BY g, qx) - 1 AS drx,
             2 * RANK() OVER (PARTITION BY g ORDER BY qy)
               + COUNT(*) OVER (PARTITION BY g, qy) - 1 AS dry
      FROM q
    ),
    m AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(drx AS HUGEINT)) AS sx,
             SUM(CAST(dry AS HUGEINT)) AS sy,
             SUM(CAST(drx AS HUGEINT) * drx) AS sxx,
             SUM(CAST(dry AS HUGEINT) * dry) AS syy,
             SUM(CAST(drx AS HUGEINT) * dry) AS sxy
      FROM r GROUP BY g
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
      CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
        FLOOR(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) *
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
        * 1000000000.0 + 0.5) / 1000000000.0
      END AS spearman_qty_price
    FROM m
    """,
    doc="Spearman rank correlation per group: tie-corrected DOUBLED "
    "average ranks (2·rank + ties − 1 — pure integers) fed through "
    "the exact-moment Pearson — the robust, outlier-immune "
    "correlation with ZERO transcendentals anywhere",
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank correlation: Pearson applied to average ranks. Average
    ranks are half-integers under ties, so the op works on DOUBLED
    ranks (2·rank(v) + n_ties(v) − 1 — the ``agg_mann_whitney``
    trick), keeping every moment an exact integer; doubling both
    variables leaves the correlation unchanged. Spearman is the
    correlation to trust under heavy tails and monotone-nonlinear
    relationships — exactly the corpus-statistics regime.

    Scale: one shuffle on the group key; the two rank windows and the
    tie-count windows share that partitioning (no extra exchange);
    moments are map-side-combined HUGEINT/DECIMAL sums.
    """
    li = load(spark, "lineitem", sf_dir)
    q = li.select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("qx"),
        F.floor(F.col("l_extendedprice") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("qy"),
    )
    d38 = "decimal(38,0)"
    drx = (
        F.lit(2) * F.rank().over(Window.partitionBy("g").orderBy("qx"))
        + F.count(F.lit(1)).over(Window.partitionBy("g", "qx"))
        - F.lit(1)
    ).cast(d38)
    dry = (
        F.lit(2) * F.rank().over(Window.partitionBy("g").orderBy("qy"))
        + F.count(F.lit(1)).over(Window.partitionBy("g", "qy"))
        - F.lit(1)
    ).cast(d38)
    r = q.select("g", drx.alias("drx"), dry.alias("dry"))
    m = r.groupBy("g").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("drx").alias("sx"),
        F.sum("dry").alias("sy"),
        F.sum(F.col("drx") * F.col("drx")).alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).alias("syy"),
        F.sum(F.col("drx") * F.col("dry")).alias("sxy"),
    )
    varx = m.n * m.sxx - m.sx * m.sx
    vary = m.n * m.syy - m.sy * m.sy
    cov = m.n * m.sxy - m.sx * m.sy
    rho = F.when(
        (varx > 0) & (vary > 0),
        F.floor(
            dec_to_double(cov)
            / F.sqrt(dec_to_double(varx) * dec_to_double(vary))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        / F.lit(1e9),
    )
    return m.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").cast("long").alias("n_rows"),
        rho.alias("spearman_qty_price"),
    )


@register(
    "agg_cramers_v",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, SUM(obs) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, SUM(obs) AS ct FROM o GROUP BY source),
    n AS (SELECT SUM(obs) AS n,
                 CAST(COUNT(DISTINCT lang) AS HUGEINT) AS nr,
                 CAST(COUNT(DISTINCT source) AS HUGEINT) AS nc
          FROM o),
    cells AS (
      SELECT CAST(FLOOR(
               CAST(CAST((o.obs * n.n - r.rt * c.ct)
                         * (o.obs * n.n - r.rt * c.ct) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(r.rt * c.ct * n.n AS VARCHAR) AS DOUBLE)
               * 1000000000.0 + 0.5) AS HUGEINT) AS contrib_q
      FROM o JOIN r ON r.lang = o.lang
             JOIN c ON c.source = o.source, n
    ),
    s AS (SELECT SUM(contrib_q) AS chi2_q FROM cells)
    SELECT CAST(n.n AS BIGINT) AS n_rows,
           CAST(LEAST(n.nr, n.nc) - 1 AS BIGINT) AS dof_min,
           CAST(CAST(s.chi2_q AS VARCHAR) AS DOUBLE) / 1000000000.0
             AS chi2,
           FLOOR(SQRT(CAST(CAST(s.chi2_q AS VARCHAR) AS DOUBLE)
                      / 1000000000.0
                      / (CAST(CAST(n.n AS VARCHAR) AS DOUBLE)
                         * (CAST(LEAST(n.nr, n.nc) AS DOUBLE) - 1.0)))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS cramers_v
    FROM s CROSS JOIN n
    """,
    doc="Cramér's V effect size for the lang × source association: "
    "sqrt(χ²/(n·(min(r,c)−1))) on the quantized-χ² integer sum — the "
    "normalized [0,1] strength the raw χ² statistic lacks",
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² says WHETHER lang and source are associated;
    Cramér's V says HOW MUCH, on a [0, 1] scale comparable across
    table sizes and shapes — the number a data card reports. Built on
    the same per-cell quantized contributions as
    ``agg_chi2_independence`` (each cell one float division then an
    integer, so the sum is order-free), with one final sqrt quantized
    at 1e-9.

    Scale: identical to the χ² op — one contingency pass, marginals
    broadcast back, O(cells) arithmetic.
    """
    docs = load(spark, "documents", sf_dir)
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("lang").cast("decimal(38,0)").alias("nr"),
        F.countDistinct("source").cast("decimal(38,0)").alias("nc"),
    )
    diff = F.col("obs") * F.col("n") - F.col("rt") * F.col("ct")
    den = F.col("rt") * F.col("ct") * F.col("n")
    contrib_q = F.floor(
        (diff * diff).cast("string").cast("double")
        / den.cast("string").cast("double")
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    s = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .join(F.broadcast(n))
        .select(contrib_q.alias("contrib_q"))
        .agg(F.sum("contrib_q").alias("chi2_q"))
    )
    out = s.crossJoin(F.broadcast(n))
    chi2 = dec_to_double(F.col("chi2_q")) / F.lit(1e9)
    k = F.least(F.col("nr"), F.col("nc")).cast("string").cast("double")
    return out.select(
        F.col("n").cast("long").alias("n_rows"),
        (F.least(F.col("nr"), F.col("nc")) - 1).cast("long").alias("dof_min"),
        chi2.alias("chi2"),
        (
            F.floor(
                F.sqrt(chi2 / (dec_to_double(F.col("n")) * (k - F.lit(1.0))))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("cramers_v"),
    )


@register(
    "agg_mutual_information",
    """
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS HUGEINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    r AS (SELECT lang, SUM(obs) AS rt FROM o GROUP BY lang),
    c AS (SELECT source, SUM(obs) AS ct FROM o GROUP BY source),
    n AS (SELECT SUM(obs) AS n FROM o),
    mi_terms AS (
      SELECT CAST(FLOOR((CAST(CAST(o.obs AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n.n AS VARCHAR) AS DOUBLE))
                 * ln(CAST(CAST(o.obs * n.n AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(r.rt * c.ct AS VARCHAR) AS DOUBLE))
                 * 1000000000.0 + 0.5) AS HUGEINT) AS t
      FROM o JOIN r ON r.lang = o.lang
             JOIN c ON c.source = o.source, n
    ),
    hr_terms AS (
      SELECT CAST(FLOOR(-(CAST(CAST(rt AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n.n AS VARCHAR) AS DOUBLE))
                 * ln(CAST(CAST(rt AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n.n AS VARCHAR) AS DOUBLE))
                 * 1000000000.0 + 0.5) AS HUGEINT) AS t
      FROM r, n
    ),
    hc_terms AS (
      SELECT CAST(FLOOR(-(CAST(CAST(ct AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n.n AS VARCHAR) AS DOUBLE))
                 * ln(CAST(CAST(ct AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(n.n AS VARCHAR) AS DOUBLE))
                 * 1000000000.0 + 0.5) AS HUGEINT) AS t
      FROM c, n
    ),
    s AS (
      SELECT (SELECT SUM(t) FROM mi_terms) AS mi,
             (SELECT SUM(t) FROM hr_terms) AS hr,
             (SELECT SUM(t) FROM hc_terms) AS hc
    )
    SELECT CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_cells,
           CAST(CAST(mi AS VARCHAR) AS DOUBLE) / 1000000000.0 AS mi_nats,
           CAST(CAST(hr AS VARCHAR) AS DOUBLE) / 1000000000.0
             AS h_lang_nats,
           CAST(CAST(hc AS VARCHAR) AS DOUBLE) / 1000000000.0
             AS h_source_nats,
           FLOOR(CAST(CAST(mi AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(LEAST(hr, hc) AS VARCHAR) AS DOUBLE)
                 * 1000000000.0 + 0.5) / 1000000000.0 AS mi_normalized
    FROM s
    """,
    doc="mutual information I(lang; source) with marginal entropies "
    "and min-entropy normalization: every p·ln term quantized at 1e-9 "
    "before its sum — the feature-selection / redundancy score beside "
    "chi-square's significance",
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much knowing the source tells you about the language (and
    vice versa) in nats — the quantity feature selection ranks by and
    corpus de-biasing monitors (high normalized MI = the metadata
    columns are redundant/confounded). Computed as
    Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) with every transcendental term
    floor-quantized at 1e-9 BEFORE its integer sum (the chi2/entropy
    convention), plus both marginal entropies and MI/min(H) — the
    normalized [0,1] form comparable across tables.

    Scale: identical to ``agg_chi2_independence`` — one contingency
    pass, dimension-sized marginal re-aggregations, O(cells) terms.
    """
    docs = load(spark, "documents", sf_dir)
    d38 = "decimal(38,0)"
    o = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast(d38).alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    q9 = lambda col: F.floor(col * F.lit(1e9) + F.lit(0.5)).cast(d38)  # noqa: E731
    mi_t = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .join(F.broadcast(n))
        .select(
            q9(
                (dec_to_double(F.col("obs")) / dec_to_double(F.col("n")))
                * F.log(
                    dec_to_double(F.col("obs") * F.col("n"))
                    / dec_to_double(F.col("rt") * F.col("ct"))
                )
            ).alias("t")
        )
        .agg(F.sum("t").alias("mi"))
    )
    hr_t = (
        r.join(F.broadcast(n))
        .select(
            q9(
                -(dec_to_double(F.col("rt")) / dec_to_double(F.col("n")))
                * F.log(dec_to_double(F.col("rt")) / dec_to_double(F.col("n")))
            ).alias("t")
        )
        .agg(F.sum("t").alias("hr"))
    )
    hc_t = (
        c.join(F.broadcast(n))
        .select(
            q9(
                -(dec_to_double(F.col("ct")) / dec_to_double(F.col("n")))
                * F.log(dec_to_double(F.col("ct")) / dec_to_double(F.col("n")))
            ).alias("t")
        )
        .agg(F.sum("t").alias("hc"))
    )
    ncells = o.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    s = (
        mi_t.crossJoin(F.broadcast(hr_t))
        .crossJoin(F.broadcast(hc_t))
        .crossJoin(F.broadcast(ncells))
    )
    return s.select(
        "n_cells",
        (dec_to_double(F.col("mi")) / F.lit(1e9)).alias("mi_nats"),
        (dec_to_double(F.col("hr")) / F.lit(1e9)).alias("h_lang_nats"),
        (dec_to_double(F.col("hc")) / F.lit(1e9)).alias("h_source_nats"),
        (
            F.floor(
                dec_to_double(F.col("mi"))
                / dec_to_double(F.least(F.col("hr"), F.col("hc")))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("mi_normalized"),
    )


@register(
    "agg_winsorized_mean",
    """
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    r AS (
      SELECT event_type, qv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY qv)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nn
      FROM q
    ),
    cuts AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * nn) AS BIGINT)
                 THEN qv END) AS lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * nn) AS BIGINT)
                 THEN qv END) AS hi
      FROM r GROUP BY event_type
    ),
    w AS (
      SELECT q.event_type,
             GREATEST(LEAST(q.qv, c.hi), c.lo) AS wv,
             q.qv
      FROM q JOIN cuts c ON c.event_type = q.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN qv <> wv THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped,
           FLOOR(CAST(CAST(SUM(CAST(wv AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
             AS winsorized_mean,
           FLOOR(CAST(CAST(SUM(CAST(qv AS HUGEINT)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
             AS raw_mean
    FROM w GROUP BY event_type
    """,
    doc="winsorized mean per event type: values clamped at the exact "
    "discrete p5/p95 rank picks before averaging — the "
    "outlier-robust mean beside agg_mad_outliers' detection",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimation: clamp each value into the
    [p5, p95] exact rank-picked envelope, then take the quantized
    integer mean — the winsorized mean a metrics pipeline reports
    when heavy tails make the raw mean jump (compare the two columns:
    a large gap IS the tail-influence diagnostic). Clamping keeps n
    constant (unlike trimming), so period-over-period comparisons
    stay aligned.

    Scale: one rank window + rollup sharing the type-key exchange;
    the cut table is O(types) broadcast back onto the stream.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    r = q.select(
        "event_type",
        "qv",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("qv"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("nn"),
    )
    cuts = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.05) * F.col("nn")), F.col("qv"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.95) * F.col("nn")), F.col("qv"))
        ).alias("hi"),
    )
    w = q.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "qv",
        F.greatest(F.least(F.col("qv"), F.col("hi")), F.col("lo")).alias(
            "wv"
        ),
    )
    d38 = "decimal(38,0)"
    mean6 = lambda c: (  # noqa: E731
        F.floor(
            F.sum(c.cast(d38)).cast("string").cast("double")
            / F.count(F.lit(1))
            / F.lit(1e6)
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("qv") != F.col("wv"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped"),
        mean6(F.col("wv")).alias("winsorized_mean"),
        mean6(F.col("qv")).alias("raw_mean"),
    )


@register(
    "agg_weighted_median",
    """
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS xq
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT xq, w,
             SUM(w) OVER (ORDER BY xq, user_id
                  ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER () AS tw
      FROM u
    ),
    pick AS (
      SELECT xq, cw, tw,
             ROW_NUMBER() OVER (ORDER BY cw) AS rn
      FROM r WHERE 2 * cw >= tw
    )
    SELECT CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_users,
           CAST((SELECT tw FROM pick WHERE rn = 1) AS BIGINT)
             AS total_weight,
           CAST((SELECT xq FROM pick WHERE rn = 1) AS DOUBLE) / 1000000.0
             AS weighted_median
    """,
    doc="weight-aware median: each user's mean value weighted by "
    "activity, the median taken over the WEIGHT mass (first x where "
    "cumulative weight ≥ half) — the population median a per-row "
    "median silently distorts when activity is skewed",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted median — 'the typical user's value, counting each
    user by their activity': order the per-user means, walk the
    cumulative WEIGHT (not row count), stop at half the mass. Needed
    whenever sampling units carry different exposure (users, traffic
    shares, survey weights); the unweighted median over-represents
    low-activity units. Weights and cumulative sums are exact
    integers; the picked value is an actual element (the discrete
    convention).

    Scale: per-user rollup (map-side combined) then a rank walk over
    the users table — at 100 TB range-partition by xq and accumulate
    per-partition weight offsets, the standard distributed-median
    layout.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.expr(
            "sum(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) "
            "div count(1)"
        )
        .cast("long")
        .alias("xq"),
    )
    tot = u.agg(F.sum("w").alias("tw"))
    r = (
        with_prefix_agg(u, "xq", ("user_id",), "w", "sum", out="cw")
        .crossJoin(F.broadcast(tot))
        .select("xq", "w", "cw", "tw")
    )
    half = r.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
    # cw is strictly increasing along (xq, user_id) — w ≥ 1 — so the
    # first qualifying row is exactly min(cw): a broadcast scalar pick,
    # not a single-partition rank
    pick = half.join(
        F.broadcast(half.agg(F.min("cw").alias("mcw"))),
        F.col("cw") == F.col("mcw"),
    )
    n_users = u.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return pick.crossJoin(F.broadcast(n_users)).select(
        "n_users",
        F.col("tw").cast("long").alias("total_weight"),
        (F.col("xq").cast("double") / F.lit(1e6)).alias("weighted_median"),
    )


@register(
    "agg_skyline_pareto",
    """
    WITH q AS (
      SELECT p_partkey,
             CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size_v
      FROM part
    ),
    r AS (
      SELECT p_partkey, price_c, size_v,
             MAX(size_v) OVER (ORDER BY price_c ASC, p_partkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_prev
      FROM q
    )
    SELECT p_partkey,
           CAST(price_c AS DOUBLE) / 100.0 AS price,
           size_v AS size
    FROM r
    WHERE best_prev IS NULL OR size_v > best_prev
    """,
    doc="skyline (Pareto front) over parts — minimize price, maximize "
    "size: sort by cost and keep strict running-max improvements; "
    "the multi-objective shortlist operator, one window pass instead "
    "of the O(n2) dominance join",
)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline operator — all options not dominated by any other
    (nothing both cheaper AND bigger exists): the shortlist every
    multi-objective decision (supplier choice, config tuning,
    model-size-vs-quality) starts from. The classic formulation is a
    dominance anti-join (O(n²)); in 2D it collapses to sort by the
    minimized axis and keep rows that strictly improve the running
    maximum of the maximized axis — one window pass, exact integer
    comparisons (cent-quantized price; ties on price resolved by the
    deterministic key order, so equal-price-equal-size duplicates
    keep only the first).

    Scale: the sort is a range partition by price; the running max
    needs per-partition prefix maxima + one small offsets exchange —
    the distributed prefix-scan shape. Higher dimensions fall back to
    blocked dominance joins on a coarse grid.
    """
    part = load(spark, "part", sf_dir)
    q = part.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size_v"),
    )
    r = with_prefix_agg(
        q, "price_c", ("p_partkey",), "size_v", "max",
        out="best_prev", inclusive=False,
    ).select("p_partkey", "price_c", "size_v", "best_prev")
    return r.filter(
        F.col("best_prev").isNull() | (F.col("size_v") > F.col("best_prev"))
    ).select(
        "p_partkey",
        (F.col("price_c").cast("double") / F.lit(100.0)).alias("price"),
        F.col("size_v").alias("size"),
    )


# ---------- Poisson bootstrap CI (deterministic, one-scan) ----------

_BOOT_B = 24  # bootstrap replicates (columns, not data copies)
# Poisson(1) CDF thresholds scaled to _SPLIT_PRIME: weight k iff the
# uniform draw g < threshold[k] (ELSE 7 for the negligible tail)
_BOOT_TH = (
    367879443, 735758887, 919698609, 981011849,
    996340160, 999405822, 999916765,
)
_BOOT_LO_RANK = 2   # 2nd of 24 sorted replicate means (~4.2th pct)
_BOOT_HI_RANK = 23  # 23rd of 24 (~95.8th pct) → ~90% percentile CI


def _boot_g_sql(b: int) -> str:
    """Uniform-in-[0,P) draw for replicate b: affine map of the
    squared split hash mod the PRIME P — a bijection, so each
    replicate's draw is exactly uniform when h is."""
    return (
        f"(((hh * {2 * b + 1}) % {_SPLIT_PRIME}) + h + {b * 12345})"
        f" % {_SPLIT_PRIME}"
    )


def _boot_w_sql(b: int) -> str:
    g = _boot_g_sql(b)
    cases = " ".join(
        f"WHEN {g} < {t} THEN {k}" for k, t in enumerate(_BOOT_TH)
    )
    return f"CASE {cases} ELSE 7 END"


def _boot_oracle() -> str:
    reps = ", ".join(
        f"CASE WHEN SUM(w{b}) = 0 THEN NULL ELSE "
        f"CAST(CAST(SUM(CAST(w{b} AS HUGEINT) * xq) AS VARCHAR) AS DOUBLE)"
        f" / 1000000.0 / CAST(SUM(w{b}) AS DOUBLE) END AS m{b}"
        for b in range(_BOOT_B)
    )
    ws = ", ".join(f"{_boot_w_sql(b)} AS w{b}" for b in range(_BOOT_B))
    arr = "[" + ", ".join(f"m{b}" for b in range(_BOOT_B)) + "]"
    return f"""
    WITH hsh AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS xq,
             ((event_id % {_SPLIT_PRIME}) * {_SPLIT_MULT})
               % {_SPLIT_PRIME} AS h
      FROM events
    ), hb AS (
      SELECT event_type, xq, h, (h * h) % {_SPLIT_PRIME} AS hh FROM hsh
    ), w AS (
      SELECT event_type, xq, {ws} FROM hb
    ), m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             {sql_davg('CAST(xq AS DOUBLE) / 1000000.0')} AS theta,
             {reps}
      FROM w GROUP BY event_type
    ), s AS (
      SELECT event_type, n, theta, list_sort({arr}) AS ms FROM m
    )
    SELECT event_type, n, theta,
           FLOOR(ms[{_BOOT_LO_RANK}] * 1000000.0 + 0.5) / 1000000.0
             AS boot_lo,
           FLOOR(ms[{_BOOT_HI_RANK}] * 1000000.0 + 0.5) / 1000000.0
             AS boot_hi
    FROM s
    """


@register(
    "agg_bootstrap_ci",
    _boot_oracle(),
    doc=f"deterministic Poisson bootstrap CI: {_BOOT_B} replicates "
    "where each row's replicate weight is Poisson(1) via integer "
    "CDF-threshold lookup on an affine-mod-prime draw (zero rand(), "
    "one scan — weights are CASE columns, data is never copied "
    f"{_BOOT_B}x), percentile CI from sorted replicate means — the "
    "resampling twin of agg_jackknife_ci for non-smooth statistics",
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable bootstrap: instead of materializing B resamples
    (the textbook form — B full copies of the data), each row carries
    B small integer weights w_b ~ Poisson(1), the standard
    large-scale approximation to multinomial resampling (the row
    counts of a true resample converge to independent Poissons).
    Replicate b's mean is Σw_b·x/Σw_b — all B of them computed as
    conditional aggregates in ONE scan — and the ~90% CI picks the
    2nd/23rd of the 24 sorted replicate means.

    Determinism: the draw is ((h²·(2b+1)) + h + 12345b) mod P on the
    reproducible split hash h — P prime makes each replicate's map a
    bijection (exactly uniform marginals), and the Poisson inverse-CDF
    is integer threshold compares, so both engines assign identical
    weights to every (row, replicate). Replicate draws share h
    (affine family, not independent streams) — acceptable for CI
    width, and the price of bit-exact reproducibility.

    Scale: one map-side-combined shuffle carrying 2B+2 integer agg
    states per group; no data inflation, no rand() (which would break
    retries/speculative execution), weights live only inside the
    aggregate expressions.
    """
    ev = load(spark, "events", sf_dir)
    h = (
        (F.col("event_id") % F.lit(_SPLIT_PRIME)) * F.lit(_SPLIT_MULT)
    ) % F.lit(_SPLIT_PRIME)
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("xq"),
        h.alias("h"),
    ).withColumn("hh", (F.col("h") * F.col("h")) % F.lit(_SPLIT_PRIME))

    def w_col(b: int) -> Column:
        g = (
            (F.col("hh") * F.lit(2 * b + 1)) % F.lit(_SPLIT_PRIME)
            + F.col("h")
            + F.lit(b * 12345)
        ) % F.lit(_SPLIT_PRIME)
        expr = F.when(g < _BOOT_TH[0], F.lit(0))
        for k, t in enumerate(_BOOT_TH[1:], start=1):
            expr = expr.when(g < t, F.lit(k))
        return expr.otherwise(F.lit(7))

    w = base.select(
        "event_type",
        "xq",
        *[w_col(b).alias(f"w{b}") for b in range(_BOOT_B)],
    )
    reps = []
    for b in range(_BOOT_B):
        sw = F.sum(F.col(f"w{b}"))
        swx = F.sum(F.col(f"w{b}").cast("decimal(38,0)") * F.col("xq"))
        reps.append(
            F.when(sw == 0, F.lit(None).cast("double"))
            .otherwise(
                swx.cast("string").cast("double")
                / F.lit(1e6)
                / sw.cast("double")
            )
            .alias(f"m{b}")
        )
    m = w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        davg("CAST(xq AS DOUBLE) / 1000000.0D").alias("theta"),
        *reps,
    )
    ms = F.array_sort(F.array(*[F.col(f"m{b}") for b in range(_BOOT_B)]))
    return m.select(
        "event_type",
        "n",
        "theta",
        dround(F.element_at(ms, _BOOT_LO_RANK), 6).alias("boot_lo"),
        dround(F.element_at(ms, _BOOT_HI_RANK), 6).alias("boot_hi"),
    )


# ---------- probability-proportional-to-size systematic sampling ----------

_PPS_K = 50


@register(
    "sample_pps_systematic",
    f"""
    WITH h AS (SELECT doc_id, lang, n_chars,
               ((doc_id % {_SPLIT_PRIME}) * {_SPLIT_MULT}) % {_SPLIT_PRIME}
                 AS hkey
               FROM documents),
    c AS (SELECT doc_id, lang, n_chars,
          SUM(n_chars) OVER (ORDER BY hkey, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(n_chars) OVER () AS tot
          FROM h)
    SELECT doc_id, lang, n_chars,
           CAST((cum * {_PPS_K}) // NULLIF(tot, 0) AS BIGINT) AS pick_idx
    FROM c
    WHERE (cum * {_PPS_K}) // NULLIF(tot, 0)
        > ((cum - n_chars) * {_PPS_K}) // NULLIF(tot, 0)
    """,
    doc=f"weighted sampling without replacement: systematic PPS over a "
    f"deterministic hash order — ~{_PPS_K} docs drawn with probability "
    "proportional to n_chars, exact integer arithmetic end-to-end "
    "(the token-budget-fair corpus subsample rand() cannot reproduce)",
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sampling: order docs
    by a multiplicative key hash (a reproducible shuffle), take the
    running weight sum, and select every doc whose cumulative-weight
    interval contains a pick index i·W/k. Inclusion probability is
    exactly k·w/W for w < W/k (docs heavier than a stride are taken
    with certainty — emitted once, standard PPS 'certainty items').
    Fully deterministic: a pure function of (doc_id, n_chars), no
    rand(), identical under any partitioning.

    The pick test is integer-exact on both engines: Spark computes
    (cum·k) div W on decimal(38,0) (Σ n_chars · k can pass int64 at
    corpus scale — the CLAUDE.md big-moments rule), DuckDB's SUM is
    already HUGEINT; both truncate the non-negative quotient the same.

    Scale: the running sum is ``with_prefix_agg`` — value-range
    bucketed two-phase prefix sum, no single-executor window; the
    total is one map-side-combined scalar broadcast. One shuffle +
    one broadcast at any corpus size.
    """
    docs = load(spark, "documents", sf_dir)
    hkey = (
        (F.col("doc_id") % F.lit(_SPLIT_PRIME)) * F.lit(_SPLIT_MULT)
    ) % F.lit(_SPLIT_PRIME)
    base = docs.select("doc_id", "lang", "n_chars", hkey.alias("hkey"))
    c = with_prefix_agg(
        base, "hkey", (F.col("doc_id"),), "n_chars", kind="sum", out="cum"
    )
    tot = docs.agg(F.sum("n_chars").cast("decimal(38,0)").alias("tot"))
    hi = F.expr(
        f"cast(cum as decimal(38,0)) * {_PPS_K} div nullif(tot, 0)"
    )
    lo = F.expr(
        f"cast(cum - n_chars as decimal(38,0)) * {_PPS_K} div nullif(tot, 0)"
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .withColumn("_hi", hi)
        .withColumn("_lo", lo)
        .filter(F.col("_hi") > F.col("_lo"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.col("_hi").cast("long").alias("pick_idx"),
        )
    )


@register(
    "analyze_join_cardinality",
    """
    WITH a AS (SELECT COUNT(*) AS n_a,
               COUNT(DISTINCT o_orderkey) AS ndv_a FROM orders),
    b AS (SELECT COUNT(*) AS n_b,
          COUNT(DISTINCT l_orderkey) AS ndv_b FROM lineitem),
    est AS (SELECT n_a, n_b, ndv_a, ndv_b,
            (n_a * n_b) // GREATEST(ndv_a, ndv_b) AS est_rows
            FROM a, b),
    act AS (SELECT COUNT(*) AS actual_rows
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ndv_a AS BIGINT) AS ndv_a, CAST(ndv_b AS BIGINT) AS ndv_b,
           CAST(est_rows AS BIGINT) AS est_rows,
           CAST(actual_rows AS BIGINT) AS actual_rows,
           CAST(ABS(est_rows - actual_rows) * 1000000
                // NULLIF(actual_rows, 0) AS BIGINT) AS err_ppm
    FROM est, act
    """,
    doc="optimizer-statistics join-cardinality estimate: the classic "
    "uniformity formula |A|·|B| / max(NDV_A, NDV_B) from per-side "
    "row/NDV stats vs the ACTUAL join count, error in integer ppm — "
    "the System-R selectivity model audited against ground truth",
)
def analyze_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The System-R containment-of-values cardinality estimate for an
    equi-join, computed from the same one-pass per-side statistics
    ``analyze_table_stats`` profiles, then audited against the real
    join count. The |A|·|B| product goes through decimal(38,0) (two
    fact tables at 100 TB overflow int64; DuckDB's COUNT math promotes
    to HUGEINT) and the error is integer ppm.

    Scale: two map-side-combined stat aggregates + the audited join
    itself (shuffle on the key). In production the NDV side swaps to
    HLL sketches (agg_approx_distinct) so the estimate needs no extra
    scan at all — the formula and this op's contract stay identical.
    """
    o = load(spark, "orders", sf_dir)
    li = load(spark, "lineitem", sf_dir)
    a = o.agg(
        F.count(F.lit(1)).alias("n_a"),
        F.countDistinct("o_orderkey").alias("ndv_a"),
    )
    b = li.agg(
        F.count(F.lit(1)).alias("n_b"),
        F.countDistinct("l_orderkey").alias("ndv_b"),
    )
    act = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    est = (
        a.crossJoin(F.broadcast(b))
        .withColumn(
            "est_rows",
            F.expr(
                "cast(cast(n_a as decimal(38,0)) * n_b "
                "div greatest(ndv_a, ndv_b) as bigint)"
            ),
        )
        .crossJoin(F.broadcast(act))
    )
    return est.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("ndv_a").cast("long").alias("ndv_a"),
        F.col("ndv_b").cast("long").alias("ndv_b"),
        "est_rows",
        F.col("actual_rows").cast("long").alias("actual_rows"),
        F.expr(
            "cast(abs(cast(est_rows as decimal(38,0)) - actual_rows) "
            "* 1000000 div nullif(actual_rows, 0) as bigint)"
        ).alias("err_ppm"),
    )


@register(
    "analyze_groupby_cardinality",
    """
    WITH s AS (SELECT COUNT(*) AS n,
               COUNT(DISTINCT l_orderkey) AS d1,
               COUNT(DISTINCT l_linenumber) AS d2
               FROM lineitem),
    act AS (SELECT COUNT(*) AS actual_groups FROM (
            SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
    est AS (SELECT n, d1, d2,
            LEAST(d1 * d2, n) AS est_groups FROM s)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(d1 AS BIGINT) AS ndv_a, CAST(d2 AS BIGINT) AS ndv_b,
           CAST(est_groups AS BIGINT) AS est_groups,
           CAST(actual_groups AS BIGINT) AS actual_groups,
           CAST(ABS(est_groups - actual_groups) * 1000000
                // NULLIF(actual_groups, 0) AS BIGINT) AS err_ppm
    FROM est, act
    """,
    doc="optimizer-statistics GROUP BY cardinality estimate: "
    "min(NDV_a x NDV_b, rowcount) — the independence-assumption "
    "formula every cost-based optimizer uses to size aggregations — "
    "audited against the actual group count, integer-ppm error",
)
def analyze_groupby_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The aggregate-sizing twin of analyze_join_cardinality: a
    cost-based optimizer estimates |GROUP BY a, b| as min(NDV(a)·NDV(b),
    N) under column independence. This op computes the estimate from
    one stats pass and audits it against the true group count —
    correlated columns (like orderkey ⊃ linenumber here) expose the
    independence assumption's bias, which is exactly what the audit
    is for. Products run in decimal(38,0)/native-HUGEINT.

    Scale: one map-side stats aggregate + one distinct aggregate
    (shuffles on the group key — the same cost the estimated query
    would pay once). The NDV side swaps to HLL sketches at 100 TB.
    """
    li = load(spark, "lineitem", sf_dir)
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("d1"),
        F.countDistinct("l_linenumber").alias("d2"),
    )
    act = li.select("l_orderkey", "l_linenumber").distinct().agg(
        F.count(F.lit(1)).alias("actual_groups")
    )
    return (
        s.withColumn(
            "est_groups",
            F.expr(
                "cast(least(cast(d1 as decimal(38,0)) * d2, "
                "cast(n as decimal(38,0))) as bigint)"
            ),
        )
        .crossJoin(F.broadcast(act))
        .select(
            F.col("n").cast("long").alias("n_rows"),
            F.col("d1").cast("long").alias("ndv_a"),
            F.col("d2").cast("long").alias("ndv_b"),
            "est_groups",
            F.col("actual_groups").cast("long").alias("actual_groups"),
            F.expr(
                "cast(abs(cast(est_groups as decimal(38,0)) - "
                "actual_groups) * 1000000 div nullif(actual_groups, 0) "
                "as bigint)"
            ).alias("err_ppm"),
        )
    )


# ---------- deterministic rerandomization (permutation-style) test ----------

_PERM_K = 16
_PERM_PRIMES = [
    1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117,
    1000121, 1000133, 1000151, 1000159, 1000171, 1000183, 1000187,
    1000193, 1000199,
]


def _perm_label(k: int) -> str:
    # deterministic relabel k: affine-mod-prime hash of event_id → bit
    return f"((event_id % {_SPLIT_PRIME}) * {_PERM_PRIMES[k]}) % {_SPLIT_PRIME} % 2"


def _perm_exceed(k: int, idiv: str) -> str:
    """One exceed-indicator term, pre-scaled against n²·x² overflow.

    Both |diff| terms are floor-divided by D = 1 + n1 + n0 BEFORE the
    cross-multiplication by the other draw's n1·n0, capping the product
    near (Σqv)·(n²) ≈ 1e36 < 1e38 instead of the raw ≈ 1e42 that
    silently NULLs Spark decimal(38,0) while DuckDB HUGEINT errors.
    Identical integer math on both engines (operands non-negative, so
    Spark ``div`` and DuckDB ``//`` truncation agree); ``idiv`` is the
    engine's integer-division operator.
    """
    return (
        f"(case when (abs(s1_{k} * n0_{k} - s0_{k} * n1_{k})"
        f" {idiv} (1 + n1 + n0)) * (n1 * n0)"
        f" >= (abs(s1 * n0 - s0 * n1) {idiv} (1 + n1 + n0))"
        f" * (n1_{k} * n0_{k})"
        f" then 1 else 0 end)"
    )


@register(
    "agg_rerandomization_test",
    f"""
    WITH q AS (SELECT event_id,
               CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END
                 AS grp,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS qv
               FROM events WHERE event_type IN ('click', 'error', 'view')),
    m AS (SELECT
      SUM(CASE WHEN grp = 1 THEN qv ELSE 0 END) AS s1,
      SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1,
      SUM(CASE WHEN grp = 0 THEN qv ELSE 0 END) AS s0,
      SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
      {", ".join(
        f"SUM(CASE WHEN {_perm_label(k)} = 1 THEN qv ELSE 0 END) AS s1_{k}, "
        f"SUM(CASE WHEN {_perm_label(k)} = 1 THEN 1 ELSE 0 END) AS n1_{k}, "
        f"SUM(CASE WHEN {_perm_label(k)} = 0 THEN qv ELSE 0 END) AS s0_{k}, "
        f"SUM(CASE WHEN {_perm_label(k)} = 0 THEN 1 ELSE 0 END) AS n0_{k}"
        for k in range(_PERM_K))}
      FROM q)
    SELECT CAST(n1 AS BIGINT) AS n_grp1, CAST(n0 AS BIGINT) AS n_grp0,
           CAST(FLOOR((CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n0 AS DOUBLE))
             / 1000000.0 * 1000000.0 + 0.5) AS BIGINT) AS obs_diff_micro,
           CAST({" + ".join(
             _perm_exceed(k, "//") for k in range(_PERM_K))}
             AS BIGINT) AS k_exceed,
           CAST(({" + ".join(
             _perm_exceed(k, "//") for k in range(_PERM_K))} + 1)
             * 1000000 // {_PERM_K + 1} AS BIGINT) AS p_ppm
    FROM m
    """,
    doc=f"deterministic rerandomization test (Monte-Carlo permutation "
    f"family): observed engagement-vs-error mean difference compared "
    f"against {_PERM_K} affine-mod-prime relabelings in ONE scan "
    "(conditional-aggregate columns, the bootstrap-op pattern); "
    "p = (1 + #exceed)/(K+1) in exact ppm, cross-multiplied integer "
    "comparisons pre-scaled by floor-div(1+n) against 1e38 overflow",
)
def agg_rerandomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization-test inference without rand(): each of the 16
    null draws relabels rows by a different affine-mod-prime hash of
    event_id (marginal ~50/50, independent of the outcome), and the
    observed |difference in means| is compared to each null draw via
    exact cross-multiplied integers (|s1·n0 − s0·n1| scaled by the
    other draw's n1·n0 — HUGEINT/decimal(38,0), zero float
    comparisons). p = (1 + #{{null ≥ obs}})/(K+1), the standard
    finite-draw Monte-Carlo estimator, as exact ppm.

    Scale: ONE scan, one 66-column conditional aggregate (map-side
    combined) — K relabelings cost K CASE columns, never K passes.
    Overflow: each |diff| is floor-divided by D = 1+n before the
    cross-multiply (see ``_perm_exceed``) so the product stays near
    (Σqv)·n² ≲ 1e36 at 1e9 rows of 1e9-micro values — inside both
    decimal(38,0) and HUGEINT; the unscaled form hits ~1e42 and
    diverges (Spark NULLs, DuckDB errors). The div result must fit
    int64: |diff|/D ≤ Σqv ≈ n·x_micro, fine through 1e9 rows × 1e9
    micro-units.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.filter(
        F.col("event_type").isin("click", "error", "view")
    ).select(
        "event_id",
        F.when(F.col("event_type").isin("click", "view"), 1)
        .otherwise(0)
        .alias("grp"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("qv"),
    )
    aggs = [
        F.sum(F.when(F.col("grp") == 1, F.col("qv")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("qv")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n0"),
    ]
    for k in range(_PERM_K):
        lbl = F.expr(_perm_label(k))
        aggs += [
            F.sum(F.when(lbl == 1, F.col("qv")).otherwise(0)).alias(f"s1_{k}"),
            F.sum(F.when(lbl == 1, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias(f"n1_{k}"),
            F.sum(F.when(lbl == 0, F.col("qv")).otherwise(0)).alias(f"s0_{k}"),
            F.sum(F.when(lbl == 0, 1).otherwise(0))
            .cast("decimal(38,0)")
            .alias(f"n0_{k}"),
        ]
    m = q.agg(*aggs)
    exceed = " + ".join(_perm_exceed(k, "div") for k in range(_PERM_K))
    return m.select(
        F.col("n1").cast("long").alias("n_grp1"),
        F.col("n0").cast("long").alias("n_grp0"),
        F.expr(
            "cast(floor((cast(cast(s1 as string) as double) "
            "/ cast(n1 as double) - cast(cast(s0 as string) as double) "
            "/ cast(n0 as double)) / 1000000.0 * 1000000.0 + 0.5) as bigint)"
        ).alias("obs_diff_micro"),
        F.expr(f"cast({exceed} as bigint)").alias("k_exceed"),
        F.expr(
            f"cast(({exceed} + 1) * 1000000 div {_PERM_K + 1} as bigint)"
        ).alias("p_ppm"),
    )


# ---------- empirical-Bayes shrinkage (beta-binomial) ----------


@register(
    "agg_eb_shrinkage",
    f"""
    WITH u AS (SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY user_id),
    q AS (SELECT user_id, y, n,
          CAST(y * 1000000 // n AS BIGINT) AS p_ppm FROM u),
    m AS (SELECT CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mu_ppm,
          CAST((SUM(p_ppm * p_ppm) * COUNT(*) - SUM(p_ppm) * SUM(p_ppm))
               // (COUNT(*) * COUNT(*)) AS BIGINT) AS var_ppm2,
          CAST(SUM(n) // COUNT(*) AS BIGINT) AS nbar
          FROM q),
    k AS (SELECT mu_ppm, var_ppm2, nbar,
          CASE WHEN var_ppm2 > 0
               THEN GREATEST(mu_ppm * (1000000 - mu_ppm) // var_ppm2 - 1,
                             CAST(1 AS BIGINT))
               ELSE CAST(1000000 AS BIGINT) END AS kappa
          FROM m),
    s AS (SELECT q.user_id, q.y, q.n, q.p_ppm,
          CAST((q.p_ppm * q.n + k.mu_ppm * k.kappa) // (q.n + k.kappa)
               AS BIGINT) AS shrunk_ppm,
          k.kappa, k.mu_ppm
          FROM q CROSS JOIN k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MAX(kappa) AS BIGINT) AS kappa,
           CAST(MAX(mu_ppm) AS BIGINT) AS prior_mean_ppm,
           CAST(SUM(ABS(p_ppm - mu_ppm)) // COUNT(*) AS BIGINT)
             AS raw_mad_ppm,
           CAST(SUM(ABS(shrunk_ppm - mu_ppm)) // COUNT(*) AS BIGINT)
             AS shrunk_mad_ppm,
           CAST(SUM(CASE WHEN ABS(shrunk_ppm - mu_ppm)
                              <= ABS(p_ppm - mu_ppm)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_shrunk_toward
    FROM s
    """,
    doc="empirical-Bayes shrinkage of per-user conversion rates: "
    "method-of-moments beta-binomial prior strength kappa = "
    "mu(1-mu)/var - 1, posterior rate (y + kappa*mu)/(n + kappa) in "
    "exact integer ppm — the James-Stein-style stabilizer for "
    "small-sample per-entity rates, with the dispersion-reduction "
    "audit built in",
)
def agg_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial pooling without MCMC: the beta-binomial prior strength
    κ comes from the method of moments on the raw per-user rate
    distribution (κ = μ(1−μ)/Var − 1, floored at 1), and each user's
    shrunk rate is the precision-weighted blend (p·n + μ·κ)/(n + κ).
    Every step is truncating integer-ppm arithmetic — no Beta
    functions, no floats — so the shrinkage is bit-identical across
    engines. The output audits the point of shrinkage: mean absolute
    deviation from the prior mean falls, and (by construction) every
    user moves toward it.

    Scale: one per-user aggregate, one 1-row moment aggregate
    (map-side combined), one broadcast blend pass. At any user count.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("y"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    q = pin(
        u.select(
            "user_id",
            "y",
            "n",
            F.expr("cast(y * 1000000 div n as bigint)").alias("p_ppm"),
        )
    )
    m = q.agg(
        F.expr("cast(sum(p_ppm) div count(*) as bigint)").alias("mu_ppm"),
        F.expr(
            "cast((sum(cast(p_ppm as decimal(38,0)) * p_ppm) * count(*) "
            "- sum(cast(p_ppm as decimal(38,0))) * sum(p_ppm)) "
            "div (cast(count(*) as decimal(38,0)) * count(*)) as bigint)"
        ).alias("var_ppm2"),
    )
    k = m.select(
        "mu_ppm",
        "var_ppm2",
        F.expr(
            "case when var_ppm2 > 0 then "
            "greatest(cast(mu_ppm as decimal(38,0)) * (1000000 - mu_ppm) "
            "div var_ppm2 - 1, cast(1 as decimal(38,0))) "
            "else 1000000 end"
        )
        .cast("long")
        .alias("kappa"),
    )
    s = q.crossJoin(F.broadcast(k)).select(
        "p_ppm",
        F.expr(
            "cast((cast(p_ppm as decimal(38,0)) * n + "
            "cast(mu_ppm as decimal(38,0)) * kappa) div (n + kappa) "
            "as bigint)"
        ).alias("shrunk_ppm"),
        "kappa",
        "mu_ppm",
    )
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.max("kappa").cast("long").alias("kappa"),
        F.max("mu_ppm").cast("long").alias("prior_mean_ppm"),
        F.expr(
            "cast(sum(abs(p_ppm - mu_ppm)) div count(*) as bigint)"
        ).alias("raw_mad_ppm"),
        F.expr(
            "cast(sum(abs(shrunk_ppm - mu_ppm)) div count(*) as bigint)"
        ).alias("shrunk_mad_ppm"),
        F.sum(
            F.when(
                F.abs(F.col("shrunk_ppm") - F.col("mu_ppm"))
                <= F.abs(F.col("p_ppm") - F.col("mu_ppm")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_shrunk_toward"),
    )


# ---------- Neyman optimal stratified-sample allocation ----------

_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    f"""
    WITH q AS (SELECT event_type,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS qv
               FROM events),
    m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nh,
          SUM(qv * qv) * CAST(COUNT(*) AS HUGEINT)
            - SUM(qv) * SUM(qv) AS vn
          FROM q GROUP BY event_type),
    t AS (SELECT event_type, nh,
          CAST(FLOOR(SQRT(CAST(CAST(vn AS VARCHAR) AS DOUBLE))
               / CAST(nh AS DOUBLE) + 0.5) AS BIGINT) AS sh_micro
          FROM m),
    s AS (SELECT event_type, nh, sh_micro,
          CAST(nh * sh_micro AS BIGINT) AS wh FROM t)
    SELECT event_type, nh, sh_micro,
           CAST(wh * {_NEYMAN_BUDGET}
                // NULLIF((SELECT SUM(wh) FROM s), 0) AS BIGINT)
             AS n_alloc,
           CAST(wh * 1000000
                // NULLIF((SELECT SUM(wh) FROM s), 0) AS BIGINT)
             AS share_ppm
    FROM s
    """,
    doc=f"Neyman optimal stratified-sample allocation: a "
    f"{_NEYMAN_BUDGET}-row budget split proportionally to N_h*sigma_h "
    "per stratum (exact integer variance numerators, per-stratum "
    "quantized sigma, truncating shares) — the survey-sampling design "
    "that minimizes estimator variance for a fixed budget",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey design in-engine: Neyman allocation n_h ∝ N_h·σ_h
    minimizes the stratified mean's variance for a fixed total budget.
    σ_h comes from the exact integer variance NUMERATOR
    (n·Σq² − (Σq)², the helpers' cancellation-free form); its square
    root is the one float op, taken on an exactly-parsed integer (IEEE
    sqrt is correctly rounded — bit-identical engines), then quantized
    per stratum BEFORE the weight sum so shares are pure integer
    ratios. High-variance strata get oversampled; near-constant
    strata collapse to almost nothing — visible directly in n_alloc.

    Scale: one map-side-combined moment aggregate (|strata| rows),
    then scalar arithmetic. The allocation table drives any
    downstream stratified sampler (sample_stratified swaps its fixed
    quota for n_alloc).
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("qv"),
    )
    m = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        (
            F.sum(F.col("qv") * F.col("qv"))
            * F.count(F.lit(1)).cast("decimal(38,0)")
            - F.sum("qv") * F.sum("qv")
        ).alias("vn"),
    )
    t = m.select(
        "event_type",
        "nh",
        F.expr(
            "cast(floor(sqrt(cast(cast(vn as string) as double)) "
            "/ cast(nh as double) + 0.5) as bigint)"
        ).alias("sh_micro"),
    )
    s = pin(
        t.select(
            "event_type",
            "nh",
            "sh_micro",
            (F.col("nh") * F.col("sh_micro")).cast("long").alias("wh"),
        )
    )
    tot = s.agg(F.sum("wh").cast("long").alias("tw"))
    return s.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "nh",
        "sh_micro",
        F.expr(
            f"cast(cast(wh as decimal(38,0)) * {_NEYMAN_BUDGET} "
            "div nullif(tw, 0) as bigint)"
        ).alias("n_alloc"),
        F.expr(
            "cast(cast(wh as decimal(38,0)) * 1000000 "
            "div nullif(tw, 0) as bigint)"
        ).alias("share_ppm"),
    )


# ---------- Kruskal-Wallis rank test (k-sample nonparametric) ----------

# pre-scale divisor against R² overflow (see docstring); 1 at test SFs
_KW_D_SQL = "(1 + (n {idiv} 65536))"


def _kw_term(idiv: str, big: str) -> str:
    """Per-group H contribution 3·R²·1e9 / (n_g·N·(N+1)), integer
    floor arithmetic, pre-scaled by D on both numerator (R//D twice)
    and denominator (//D²) — identical truncation on both engines.
    The scaled R is re-cast to the wide integer type ``big`` before
    squaring (integer div narrows to int64, and R² overflows it)."""
    d = _KW_D_SQL.format(idiv=idiv)
    r = f"CAST(r_x2 {idiv} {d} AS {big})"
    return (
        f"((3 * ({r} * {r}) * 1000000000) "
        f"{idiv} ((BIGPRODUCT) {idiv} ({d} * {d})))"
    )


@register(
    "agg_kruskal_wallis",
    f"""
    WITH v AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events
    ), per AS (
      SELECT q, event_type, CAST(COUNT(*) AS BIGINT) AS cnt_g
      FROM v GROUP BY q, event_type
    ), per_val AS (
      SELECT q, CAST(SUM(cnt_g) AS BIGINT) AS cnt FROM per GROUP BY q
    ), ranked AS (
      SELECT q, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per_val
    ), grp AS (
      SELECT p.event_type,
             CAST(SUM(p.cnt_g) AS BIGINT) AS n_g,
             SUM(CAST(p.cnt_g AS HUGEINT)
                 * (2 * r.cum_before + r.cnt + 1)) AS r_x2
      FROM per p JOIN ranked r ON p.q = r.q GROUP BY p.event_type
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie
      FROM per_val
    ), terms AS (
      SELECT {_kw_term("//", "HUGEINT").replace(
          "BIGPRODUCT", "CAST(n_g AS HUGEINT) * n * (n + 1)")} AS term
      FROM grp CROSS JOIN tot
    ), s AS (
      SELECT CAST(SUM(term) AS HUGEINT) AS s_term,
             CAST(COUNT(*) AS BIGINT) AS k FROM terms
    ), h0 AS (
      SELECT t.n, s.k, t.tie,
             CAST(CAST(t.n AS HUGEINT) * t.n * t.n - t.n AS HUGEINT)
               AS t_all,
             FLOOR((CAST(CAST(s.s_term AS VARCHAR) AS DOUBLE)
                    / 1000000000.0
                    - 3.0 * (CAST(t.n AS DOUBLE) + 1.0))
                   * 1000000.0 + 0.5) / 1000000.0 AS h
      FROM s CROSS JOIN tot t
    )
    SELECT n AS n_total, k AS k_groups, h,
           CASE WHEN t_all > tie THEN
             FLOOR(h * (CAST(CAST(t_all AS VARCHAR) AS DOUBLE)
                        / CAST(CAST(t_all - tie AS VARCHAR) AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0
           ELSE NULL END AS h_tie
    FROM h0
    """,
    doc="Kruskal-Wallis H (rank ANOVA over all event types): doubled "
    "midranks keep ties integer-exact, per-group R² terms in "
    "HUGEINT/decimal(38,0) with the pre-scale-by-D convention, "
    "tie-corrected H alongside — the k-sample extension of "
    "agg_mann_whitney",
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample rank test — does ANY event type's value distribution
    dominate? Extends the nonparametric family (``agg_mann_whitney``
    two-sample, ``agg_ks_test`` shape) to k groups: H is the rank-ANOVA
    statistic 12/(N(N+1))·Σ R_j²/n_j − 3(N+1), chi-square with k−1 df
    under H₀, plus the standard tie correction H/(1 − Σ(t³−t)/(N³−N)).

    Tie discipline follows ``agg_mann_whitney``: midranks carried
    DOUBLED (2·cum_before + cnt + 1), so per-(value, group) rank sums
    R_x2 = 2R_j are exact integers; H absorbs the ½² as 3·R_x2².

    Overflow: R_x2 ≈ N² needs decimal(38,0)/HUGEINT once squared; per
    the pre-scale convention both R (twice, //D) and the denominator
    n_g·N·(N+1) (//D²) are floor-divided by D = 1 + N//65536 before
    the division — D = 1 (bit-exact) below N = 65k, and at 1e9 rows
    keeps 3·(R/D)²·1e9 ≈ 1e37 < 1e38 while the scaled denominator
    stays inside int64. Identical non-negative integer truncation on
    both engines.

    Scale: map-side-combined counts per (value, group); the only
    window is the exclusive prefix over DISTINCT values
    (``with_prefix_agg`` — bucketed two-phase, never raw rows); the
    per-group frame is k rows. One fact scan.
    """
    ev = load(spark, "events", sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    per = ev.groupBy("q", "event_type").agg(
        F.count(F.lit(1)).alias("cnt_g")
    )
    per_val = per.groupBy("q").agg(F.sum("cnt_g").cast("long").alias("cnt"))
    ranked = with_prefix_agg(
        per_val, "q", (), "cnt", "sum", out="cum_before", inclusive=False
    ).withColumn("cum_before", F.coalesce(F.col("cum_before"), F.lit(0)))
    j = per.join(ranked.select("q", "cnt", "cum_before"), "q")
    grp = j.groupBy("event_type").agg(
        F.sum("cnt_g").cast("long").alias("n_g"),
        F.sum(
            F.col("cnt_g").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("cnt") + 1)
        ).alias("r_x2"),
    )
    tot = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie"),
    )
    terms = grp.crossJoin(F.broadcast(tot)).select(
        F.expr(
            _kw_term("div", "DECIMAL(38,0)").replace(
                "BIGPRODUCT", "CAST(n_g AS DECIMAL(38,0)) * n * (n + 1)"
            )
        ).alias("term"),
        "n",
        "tie",
    )
    s = terms.groupBy().agg(
        F.sum(F.col("term").cast("decimal(38,0)")).alias("s_term"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n").alias("n"),
        F.max("tie").alias("tie"),
    )
    h0 = s.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("k_groups"),
        "tie",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * n * n - n AS DECIMAL(38,0))"
        ).alias("t_all"),
        (
            F.floor(
                (
                    F.expr("CAST(CAST(s_term AS STRING) AS DOUBLE)")
                    / F.lit(1000000000.0)
                    - 3.0 * (F.col("n").cast("double") + 1.0)
                )
                * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("h"),
    )
    return h0.select(
        "n_total",
        "k_groups",
        "h",
        F.when(
            F.col("t_all") > F.col("tie"),
            F.floor(
                F.col("h")
                * (
                    F.expr("CAST(CAST(t_all AS STRING) AS DOUBLE)")
                    / F.expr("CAST(CAST(t_all - tie AS STRING) AS DOUBLE)")
                )
                * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0,
        ).alias("h_tie"),
    )


# ---------- Benjamini-Hochberg FDR (multiple-testing control) ----------

_BH_Q_PPB = 100000000  # q = 0.10 as parts-per-billion


# z² from exact integer moments, evaluated in DOUBLE: the sums are
# exact decimals (associative — shard order irrelevant), and every
# step after aggregation (string-cast, /, *, −, sqrt) is a correctly
# rounded IEEE op, so the scalar pipeline is bit-identical on both
# engines without the decimal pre-scale dance. Only exp() is
# libm-dependent — its output is quantized immediately.
def _bh_exprs(st: str) -> tuple[str, str]:
    """(z², var_t) SQL over cell/type moment columns; ``st`` is the
    engine's string type spelling (STRING / VARCHAR)."""
    mc = f"(CAST(CAST(s_c AS {st}) AS DOUBLE) / CAST(n_c AS DOUBLE))"
    mt = f"(CAST(CAST(s_t AS {st}) AS DOUBLE) / CAST(n_t AS DOUBLE))"
    vt = (
        f"(CAST(CAST(q2_t AS {st}) AS DOUBLE) / CAST(n_t AS DOUBLE)"
        f" - {mt} * {mt})"
    )
    z2 = f"(({mc} - {mt}) * ({mc} - {mt}) * CAST(n_c AS DOUBLE) / {vt})"
    return z2, vt


_BH_Z2, _BH_VT = _bh_exprs("VARCHAR")


@register(
    "agg_bh_fdr",
    f"""
    WITH v AS (
      SELECT event_type,
             EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS hr,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events
    ), cell AS (
      SELECT event_type, hr,
             CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s_c
      FROM v GROUP BY event_type, hr
    ), typ AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_t,
             CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s_t,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS q2_t
      FROM v GROUP BY event_type
    ), hyp AS (
      SELECT c.event_type, c.hr, c.n_c,
             FLOOR((2.0 / (1.0 + EXP(1.702 * SQRT({_BH_Z2}))))
                   * 1000000000.0 + 0.5) AS p_ppb
      FROM cell c JOIN typ t ON c.event_type = t.event_type
      WHERE {_BH_VT} > 0 AND c.n_c > 0
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY p_ppb, event_type, hr) AS rnk,
             COUNT(*) OVER () AS m
      FROM hyp
    ), thr AS (
      SELECT *, (rnk * {_BH_Q_PPB}) // m AS thr_ppb FROM ranked
    ), kstar AS (
      SELECT *,
             MAX(CASE WHEN p_ppb <= thr_ppb THEN rnk ELSE 0 END)
               OVER () AS k_star
      FROM thr
    )
    SELECT event_type, CAST(hr AS BIGINT) AS hr, n_c,
           CAST(p_ppb AS BIGINT) AS p_ppb,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(thr_ppb AS BIGINT) AS thr_ppb,
           COALESCE(rnk <= k_star, FALSE) AS rejected
    FROM kstar
    """,
    doc="Benjamini-Hochberg FDR over the (event_type × hour) grid of "
    "cell-vs-type mean z-tests: rank quantized p-values, reject all "
    "ranks ≤ the largest k with p_k ≤ k·q/m (q=0.10) — the "
    "multiple-testing control every metrics dashboard with 100+ "
    "simultaneous cells needs before flagging 'significant' ones",
)
def agg_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control — the step A/B readouts skip at their
    peril: testing 100+ (segment, hour) cells at α=0.05 yields ~5
    false alarms by construction; BH caps the expected FALSE DISCOVERY
    RATE at q instead. Procedure: sort the m p-values ascending,
    find k* = max{{k : p_(k) ≤ k·q/m}}, reject hypotheses 1..k*.

    p-values: cell-vs-type one-sample z. The SUMS are exact decimals
    (associative — shard order irrelevant); the scalar z² pipeline
    after aggregation runs in DOUBLE (string-cast → /, *, −, sqrt are
    all correctly-rounded IEEE ops, bit-identical across engines — no
    decimal pre-scale needed because nothing large is ever
    re-multiplied). Φ(z) ≈ 1/(1+e^−1.702z) (Bowling et al.'s logistic
    constant; max |err| < 0.01 — a documented approximation, computed
    identically on both engines), and the only libm-dependent step
    (exp) is quantized to integer ppb BEFORE ranking, so the BH
    ordering and threshold comparisons are pure integer.

    Scale: two map-side-combined aggregates over one fact scan
    (cells, types); everything after is m ≤ 24·|types| rows — the
    rank/threshold windows run on a BOUNDED frame (``one_part``).

    Note the z-approximation makes p's ORDER exact within any one
    monotone region; ties broken by (event_type, hr) for a total
    order.
    """
    ev = load(spark, "events", sf_dir).select(
        "event_type",
        F.expr(f"EXTRACT(HOUR FROM {EVENTS_TS_SQL})").alias("hr"),
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    cell = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s_c"),
    )
    typ = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s_t"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("q2_t"),
    )
    z2, vt = _bh_exprs("STRING")
    hyp = (
        cell.join(typ, "event_type")
        .filter((F.expr(vt) > 0) & (F.col("n_c") > 0))
        .select(
            "event_type",
            "hr",
            "n_c",
            F.floor(
                (2.0 / (1.0 + F.exp(1.702 * F.sqrt(F.expr(z2)))))
                * 1000000000.0
                + F.lit(0.5)
            ).alias("p_ppb"),
        )
    )
    w = Window.partitionBy(one_part("n_c")).orderBy(
        "p_ppb", "event_type", "hr"
    )
    wall = Window.partitionBy(one_part("n_c"))
    ranked = hyp.select(
        "*",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    ).withColumn(
        "thr_ppb", F.expr(f"(CAST(rnk AS BIGINT) * {_BH_Q_PPB}) div m")
    )
    kstar = ranked.withColumn(
        "k_star",
        F.max(
            F.when(F.col("p_ppb") <= F.col("thr_ppb"), F.col("rnk")).otherwise(
                F.lit(0)
            )
        ).over(wall),
    )
    return kstar.select(
        "event_type",
        F.col("hr").cast("long").alias("hr"),
        "n_c",
        F.col("p_ppb").cast("long").alias("p_ppb"),
        F.col("rnk").cast("long").alias("rnk"),
        F.col("thr_ppb").cast("long").alias("thr_ppb"),
        F.coalesce(F.col("rnk") <= F.col("k_star"), F.lit(False)).alias(
            "rejected"
        ),
    )


# ---------- SPRT (sequential probability ratio test) ----------

# H0: conversion p0 = 0.10 vs H1: p1 = 0.12, alpha = beta = 0.05.
# Log-likelihood-ratio increments and Wald boundaries as exact nano
# literals (floor(ln(x)*1e9 + 0.5), precomputed — the engines never
# evaluate a transcendental):
_SPRT_A_NANO = 182321557  # ln(p1/p0)      = ln(1.2)
_SPRT_B_NANO = -22472856  # ln((1-p1)/(1-p0)) = ln(0.88/0.90)
_SPRT_U_NANO = 2944438979  # ln((1-beta)/alpha) = ln(19)
_SPRT_L_NANO = -2944438979  # ln(beta/(1-alpha)) = -ln(19)

_SPRT_CROSS = f"(cum >= {_SPRT_U_NANO} OR cum <= {_SPRT_L_NANO})"


@register(
    "agg_sprt_boundary",
    f"""
    WITH v AS (
      SELECT event_id, user_id % 2 AS variant,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS x
      FROM events
    ), c AS (
      SELECT variant, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY variant
               ORDER BY event_id) AS BIGINT) AS idx,
             CAST(SUM(x * {_SPRT_A_NANO} + (1 - x) * ({_SPRT_B_NANO}))
               OVER (PARTITION BY variant ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM v
    )
    SELECT variant,
           CAST(MAX(idx) AS BIGINT) AS n_events,
           CAST(SUM(x) AS BIGINT) AS n_conv,
           CAST(arg_max(cum, idx) AS BIGINT) AS llr_final_nano,
           CAST(MIN(CASE WHEN {_SPRT_CROSS} THEN idx END) AS BIGINT)
             AS first_cross_n,
           CASE
             WHEN arg_min(cum, CASE WHEN {_SPRT_CROSS} THEN idx END)
                  IS NULL THEN 'continue'
             WHEN arg_min(cum, CASE WHEN {_SPRT_CROSS} THEN idx END)
                  >= {_SPRT_U_NANO} THEN 'accept_h1'
             ELSE 'accept_h0'
           END AS decision
    FROM c GROUP BY variant
    """,
    doc="Wald SPRT over the event stream per variant: cumulative "
    "log-likelihood ratio of click conversion (H0 p=0.10 vs H1 "
    "p=0.12, exact nano-integer increments — ln's precomputed as "
    "literals), first crossing of the ±ln(19) boundaries and the "
    "accept/continue verdict — the always-valid sequential test that "
    "lets experiments stop EARLY, unlike the fixed-horizon t/z family",
)
def agg_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential testing: the fixed-horizon A/B family
    (``agg_ab_test``, ``agg_bayes_beta_posterior``) must pick n in
    advance; Wald's SPRT instead accumulates the log-likelihood ratio
    per observation and stops the moment it exits (L, U) — provably
    the minimum-expected-sample test for given error rates. Increments
    and boundaries are PRECOMPUTED nano-integer literals (ln(1.2),
    ln(0.88/0.90), ±ln(19)), so the whole decision path is exact
    int64 arithmetic — no transcendental ever runs in-engine.

    Arrival order is event_id (the fixture's ingest sequence);
    'first_cross_n' is the sample size at which the test would have
    stopped, and 'decision' reads the LLR at that first crossing.

    Scale: the per-variant running LLR is the bit-identical two-phase
    prefix helper (``with_prefix_aggs`` per variant — 2 bounded
    passes, never a single-partition window over facts); the final
    verdict is a 2-row aggregate. At 1e9 events cum ≈ 1.8e17 nano —
    inside int64.
    """
    ev = load(spark, "events", sf_dir).select(
        "event_id",
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("x"),
    )
    parts = []
    for vv in (0, 1):
        dv = ev.filter(F.col("variant") == vv).withColumn(
            "llr",
            F.col("x") * F.lit(_SPRT_A_NANO)
            + (1 - F.col("x")) * F.lit(_SPRT_B_NANO),
        )
        parts.append(
            with_prefix_aggs(
                dv,
                "event_id",
                (),
                [
                    ("llr", "sum", "cum", True),
                    (F.lit(1), "sum", "idx", True),
                ],
            )
        )
    c = parts[0].unionByName(parts[1])
    cross = F.expr(_SPRT_CROSS)
    return c.groupBy("variant").agg(
        F.max("idx").cast("long").alias("n_events"),
        F.sum("x").cast("long").alias("n_conv"),
        F.max_by("cum", "idx").cast("long").alias("llr_final_nano"),
        F.min(F.when(cross, F.col("idx"))).cast("long").alias(
            "first_cross_n"
        ),
        F.when(
            F.min_by("cum", F.when(cross, F.col("idx"))).isNull(),
            F.lit("continue"),
        )
        .when(
            F.min_by("cum", F.when(cross, F.col("idx")))
            >= F.lit(_SPRT_U_NANO),
            F.lit("accept_h1"),
        )
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
    )


# ---------- Shewhart control chart (Western Electric rules) ----------

# Standardized deviation of a day's mean from the process mean, in
# sigma/sqrt(n) units — exact integer sums, then an all-IEEE scalar
# pipeline (string-cast, /, *, -, sqrt: correctly rounded, identical
# on both engines). {st} = engine string type.
_CC_DEV = (
    "(CASE WHEN (CAST(CAST(qq AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE)"
    " - (CAST(CAST(ss AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * (CAST(CAST(ss AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE))) > 0"
    " THEN (CAST(CAST(s_d AS {st}) AS DOUBLE) / CAST(n_d AS DOUBLE)"
    "  - CAST(CAST(ss AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * SQRT(CAST(n_d AS DOUBLE))"
    " / SQRT(CAST(CAST(qq AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE)"
    "  - (CAST(CAST(ss AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE))"
    "  * (CAST(CAST(ss AS {st}) AS DOUBLE) / CAST(nn AS DOUBLE)))"
    " ELSE NULL END)"
)


@register(
    "agg_control_chart",
    f"""
    WITH v AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q
      FROM events
    ), d AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_d,
             CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s_d
      FROM v GROUP BY day
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nn,
             CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS ss,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS qq
      FROM v
    ), z AS (
      SELECT day, n_d,
             FLOOR((CAST(CAST(s_d AS VARCHAR) AS DOUBLE)
                    / CAST(n_d AS DOUBLE)) / 1000000.0
                   * 1000000.0 + 0.5) / 1000000.0 AS mean_value,
             {_CC_DEV.format(st="VARCHAR")} AS dev
      FROM d CROSS JOIN g
    ), r AS (
      SELECT day, n_d, mean_value,
             FLOOR(dev * 1000000.0 + 0.5) / 1000000.0 AS dev,
             CASE WHEN dev > 2.0 THEN 1 ELSE 0 END AS above2,
             CASE WHEN dev < -2.0 THEN 1 ELSE 0 END AS below2,
             COALESCE(ABS(dev) > 3.0, FALSE) AS rule1
      FROM z
    )
    SELECT CAST(day AS BIGINT) AS day, n_d, mean_value, dev, rule1,
           COALESCE(
             (above2 + COALESCE(LAG(above2, 1) OVER w, 0)
                     + COALESCE(LAG(above2, 2) OVER w, 0) >= 2
              AND above2 = 1)
             OR
             (below2 + COALESCE(LAG(below2, 1) OVER w, 0)
                     + COALESCE(LAG(below2, 2) OVER w, 0) >= 2
              AND below2 = 1),
             FALSE) AS rule2
    FROM r WINDOW w AS (ORDER BY day)
    """,
    doc="Shewhart x-bar control chart over daily means: standardized "
    "deviation in sigma/sqrt(n) units from exact integer moments, "
    "Western Electric rule 1 (beyond 3 sigma) and rule 2 (2-of-3 "
    "consecutive beyond 2 sigma, same side) — the SPC out-of-control "
    "detector behind every data-quality freshness monitor",
)
def agg_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control on the metric stream: each day's
    mean is standardized against the whole process (dev = (x̄_d − μ)·
    √n_d / σ) and tested with the two Western Electric zone rules that
    catch both SPIKES (rule 1: one point beyond 3σ) and sustained
    SHIFTS (rule 2: 2 of 3 consecutive points beyond 2σ on the same
    side) — a mean drift too small for rule 1 trips rule 2 within
    days.

    Numerics: day/global sums are exact integer decimals; the scalar
    dev pipeline is string-cast → IEEE /,*,−,sqrt (correctly rounded,
    engine-identical); rule comparisons run on the raw double (same
    value both engines), output dev floor-quantized at 1e-6. Nullable
    rule booleans are COALESCE'd to FALSE on both sides per the
    convention.

    Scale: one map-side-combined daily aggregate + a 1-row global;
    the rule-2 lags run over the BOUNDED day spine (``one_part``).
    One fact scan total.
    """
    ev = load(spark, "events", sf_dir).select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    d = ev.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s_d"),
    )
    g = ev.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("ss"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("qq"),
    )
    z = d.crossJoin(F.broadcast(g)).select(
        "day",
        "n_d",
        (
            F.floor(
                (
                    F.expr("CAST(CAST(s_d AS STRING) AS DOUBLE)")
                    / F.col("n_d").cast("double")
                )
                / 1000000.0
                * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("mean_value"),
        F.expr(_CC_DEV.format(st="STRING")).alias("dev"),
    )
    r = z.select(
        "day",
        "n_d",
        "mean_value",
        (F.floor(F.col("dev") * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "devq"
        ),
        F.when(F.col("dev") > 2.0, 1).otherwise(0).alias("above2"),
        F.when(F.col("dev") < -2.0, 1).otherwise(0).alias("below2"),
        F.coalesce(F.abs(F.col("dev")) > 3.0, F.lit(False)).alias("rule1"),
    )
    w = Window.partitionBy(one_part("n_d")).orderBy("day")
    lag = lambda c, k: F.coalesce(F.lag(c, k).over(w), F.lit(0))  # noqa: E731
    return r.select(
        "day",
        "n_d",
        "mean_value",
        F.col("devq").alias("dev"),
        "rule1",
        F.coalesce(
            (
                (
                    F.col("above2") + lag("above2", 1) + lag("above2", 2)
                    >= 2
                )
                & (F.col("above2") == 1)
            )
            | (
                (
                    F.col("below2") + lag("below2", 1) + lag("below2", 2)
                    >= 2
                )
                & (F.col("below2") == 1)
            ),
            F.lit(False),
        ).alias("rule2"),
    )


# ---------- iterative proportional fitting (raking) ----------


@register(
    "agg_ipf_raking",
    """
    WITH pop AS (
      SELECT c_mktsegment AS seg, c_nationkey % 5 AS nb FROM customer
    ),
    tr AS (SELECT seg, CAST(COUNT(*) AS HUGEINT) AS t FROM pop GROUP BY seg),
    tc AS (SELECT nb, CAST(COUNT(*) AS HUGEINT) AS t FROM pop GROUP BY nb),
    s0 AS (
      SELECT c_mktsegment AS seg, c_nationkey % 5 AS nb,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(1000000 AS HUGEINT) AS w0
      FROM customer WHERE c_custkey % 2 = 0
      GROUP BY c_mktsegment, c_nationkey % 5
    ),
    m1 AS (SELECT seg, SUM(n * w0) AS m FROM s0 GROUP BY seg),
    s1 AS MATERIALIZED (
      SELECT s0.seg, s0.nb, s0.n,
             s0.w0 * tr.t * 1000000 // m1.m AS w1
      FROM s0 JOIN m1 ON m1.seg = s0.seg JOIN tr ON tr.seg = s0.seg
    ),
    m2 AS (SELECT nb, SUM(n * w1) AS m FROM s1 GROUP BY nb),
    s2 AS MATERIALIZED (
      SELECT s1.seg, s1.nb, s1.n,
             s1.w1 * tc.t * 1000000 // m2.m AS w2
      FROM s1 JOIN m2 ON m2.nb = s1.nb JOIN tc ON tc.nb = s1.nb
    ),
    m3 AS (SELECT seg, SUM(n * w2) AS m FROM s2 GROUP BY seg),
    s3 AS MATERIALIZED (
      SELECT s2.seg, s2.nb, s2.n,
             s2.w2 * tr.t * 1000000 // m3.m AS w3
      FROM s2 JOIN m3 ON m3.seg = s2.seg JOIN tr ON tr.seg = s2.seg
    ),
    m4 AS (SELECT nb, SUM(n * w3) AS m FROM s3 GROUP BY nb),
    s4 AS MATERIALIZED (
      SELECT s3.seg, s3.nb, s3.n,
             s3.w3 * tc.t * 1000000 // m4.m AS w4
      FROM s3 JOIN m4 ON m4.nb = s3.nb JOIN tc ON tc.nb = s3.nb
    ),
    mr AS (SELECT seg, SUM(n * w4) AS m FROM s4 GROUP BY seg)
    SELECT s4.seg, CAST(s4.nb AS BIGINT) AS nbucket,
           CAST(s4.n AS BIGINT) AS n_sample,
           CAST(s4.w4 AS BIGINT) AS w_ppm,
           CAST(tr.t AS BIGINT) AS target_seg,
           CAST(mr.m // 1000000 AS BIGINT) AS achieved_seg,
           CAST(ABS(mr.m - tr.t * 1000000) * 1000000
                // (tr.t * 1000000) AS BIGINT) AS seg_gap_ppm
    FROM s4 JOIN tr ON tr.seg = s4.seg JOIN mr ON mr.seg = s4.seg
    """,
    doc="survey raking (iterative proportional fitting): a half-"
    "population customer sample reweighted to match BOTH the "
    "mktsegment and nation-bucket population margins, 2 full IPF "
    "cycles unrolled in exact ppm-integer arithmetic (truncating "
    "division each step is the shared fixed-point convention) — the "
    "post-stratification calibration beside sample_neyman_allocation "
    "(which plans the draw; raking repairs it after the fact)",
)
def agg_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / IPF — the standard survey-weighting fix when a sample
    matches NEITHER of two categorical margins: alternately rescale
    cell weights so row margins match, then column margins, and
    repeat. Two full cycles (4 half-steps) are unrolled; each step is
    w' = w·T·1e6 div Σ(n·w) in exact integer ppm units, so both
    engines truncate identically and the fixed point is
    bit-deterministic. Output carries the final per-cell weight plus
    the achieved-vs-target segment margin (gap in ppm — after a
    column step the row margins are off by the residual IPF hasn't
    yet converged away; reporting it makes the convergence state
    auditable instead of implicit).

    Scale: the population margins and the sample cell table are two
    map-side-combined aggregates over the dimension table (or fact
    table at 100 TB — one scan each); every IPF step then runs on
    the CELL table (|seg|×|nb| rows), margins re-aggregated from 25
    rows and broadcast-joined back. Each half-step references the
    previous level TWICE (margin fold + join back) — per-step eager
    localCheckpoint / AS MATERIALIZED truncates the otherwise
    2^steps plan doubling (the graph_k_core convention) at the cost
    of materializing a cell-table-sized intermediate per step. Products w·T·1e6 reach
    1e24 at fact scale — decimal(38,0)/HUGEINT per the convention.
    """
    cust = load(spark, "customer", sf_dir)
    pop = cust.select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_nationkey") % 5).alias("nb"),
    )
    tr = pop.groupBy("seg").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("t")
    )
    tc = pop.groupBy("nb").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("t")
    )
    s = (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            (F.col("c_nationkey") % 5).alias("nb"),
        )
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
        .withColumn("w", F.lit(1000000).cast("decimal(38,0)"))
    )

    def _half_step(df: DataFrame, key: str, tgt: DataFrame) -> DataFrame:
        m = df.groupBy(key).agg(F.sum(F.expr("n * w")).alias("m"))
        t2 = tgt.select(F.col(key), F.col("t").alias("_t"))
        return (
            df.join(F.broadcast(m), key)
            .join(F.broadcast(t2), key)
            .select(
                "seg",
                "nb",
                "n",
                F.expr("cast(w * _t * 1000000 div m as decimal(38,0))")
                .alias("w"),
            )
        )

    s = _half_step(s, "seg", tr).localCheckpoint(eager=True)
    s = _half_step(s, "nb", tc).localCheckpoint(eager=True)
    s = _half_step(s, "seg", tr).localCheckpoint(eager=True)
    s = _half_step(s, "nb", tc).localCheckpoint(eager=True)
    mr = s.groupBy("seg").agg(F.sum(F.expr("n * w")).alias("m"))
    return (
        s.join(F.broadcast(tr), "seg")
        .join(F.broadcast(mr), "seg")
        .select(
            "seg",
            F.col("nb").cast("long").alias("nbucket"),
            F.col("n").cast("long").alias("n_sample"),
            F.col("w").cast("long").alias("w_ppm"),
            F.col("t").cast("long").alias("target_seg"),
            F.expr("cast(m div 1000000 as bigint)").alias("achieved_seg"),
            F.expr(
                "cast(abs(m - t * 1000000) * 1000000 "
                "div (t * 1000000) as bigint)"
            ).alias("seg_gap_ppm"),
        )
    )


# ---------- two-way factorial ANOVA ----------


@register(
    "agg_two_way_anova",
    """
    WITH q AS (
      SELECT event_type AS a, hour(ts) // 6 AS b,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS x
      FROM events
    ),
    cell AS (
      SELECT a, b, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s
      FROM q GROUP BY a, b
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s,
             SUM(x * x) AS sxx,
             CAST(COUNT(DISTINCT a) AS HUGEINT) AS ka,
             CAST(COUNT(DISTINCT b) AS HUGEINT) AS kb
      FROM q
    ),
    ssc AS (SELECT SUM(s * s // n) AS v FROM cell),
    ssa AS (SELECT SUM(s * s // n) AS v FROM
            (SELECT a, SUM(n) AS n, SUM(s) AS s FROM cell GROUP BY a)),
    ssb AS (SELECT SUM(s * s // n) AS v FROM
            (SELECT b, SUM(n) AS n, SUM(s) AS s FROM cell GROUP BY b)),
    nc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_cells FROM cell),
    sc AS (
      SELECT tot.s * tot.s // tot.n AS cm,
             tot.sxx - tot.s * tot.s // tot.n AS ss_tot,
             ssa.v - tot.s * tot.s // tot.n AS ss_a,
             ssb.v - tot.s * tot.s // tot.n AS ss_b,
             ssc.v - ssa.v - ssb.v + tot.s * tot.s // tot.n AS ss_ab,
             tot.sxx - ssc.v AS ss_e,
             tot.ka - 1 AS df_a, tot.kb - 1 AS df_b,
             (tot.ka - 1) * (tot.kb - 1) AS df_ab,
             tot.n - nc.n_cells AS df_e, tot.n - 1 AS df_t,
             tot.sxx - tot.s * tot.s // tot.n AS denom
      FROM tot, ssa, ssb, ssc, nc
    )
    SELECT component, CAST(df AS BIGINT) AS df,
           CAST(CAST(ss AS VARCHAR) AS DOUBLE) AS ss_micro2,
           CAST(ss * 1000000 // denom AS BIGINT) AS eta2_ppm,
           CASE WHEN df > 0 AND ss_e > 0 AND df_e > 0 THEN
             FLOOR((CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(df AS VARCHAR) AS DOUBLE))
                   / (CAST(CAST(ss_e AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(df_e AS VARCHAR) AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS f_stat
    FROM (
      SELECT 'factor_a' AS component, df_a AS df, ss_a AS ss,
             ss_e, df_e, denom FROM sc
      UNION ALL
      SELECT 'factor_b', df_b, ss_b, ss_e, df_e, denom FROM sc
      UNION ALL
      SELECT 'interaction', df_ab, ss_ab, ss_e, df_e, denom FROM sc
      UNION ALL
      SELECT 'error', df_e, ss_e, ss_e, df_e, denom FROM sc
      UNION ALL
      SELECT 'total', df_t, ss_tot, ss_e, df_e, denom FROM sc
    )
    """,
    doc="two-way factorial ANOVA (event_type × 6h-block over value): "
    "SS for both main effects, their interaction, and error from "
    "exact integer cell moments (each S²//n term truncates at the "
    "1-micro² grid on both engines — zero floats until the final "
    "F ratio), with eta² effect sizes in integer ppm — the factorial "
    "decomposition beside agg_kruskal_wallis (1-way ranks) and "
    "agg_ab_test (2 groups)",
)
def agg_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the value metric depend on event type, time of day, or
    their INTERACTION (the effect one-way tests can't see — e.g.
    errors only spike at night)? Classic factorial sums of squares:
    SS_A/B = Σ S_m²/n_m − S²/n over marginals, SS_AB = SS_cells −
    SS_A − SS_B + CM, SS_E = SS_total − SS_cells; η² = SS/SS_total
    ranks practical importance, F = MS/MS_E tests it. (Unbalanced
    designs make this the proportional/Type-I decomposition — the
    convention is stated, not hidden.)

    Determinism: every S²//n term is an exact integer floor division
    (micro² grid — both engines truncate toward zero on positive
    operands), so all SS values and the ppm η² are pure integer
    arithmetic; only the final F ratio is float (two correctly-
    rounded divisions of string-cast exact integers, 1e-6 floor-
    quantized). Moments route through HUGEINT/decimal(38,0): S² at
    fact scale is n²·x² — past int64 by construction.

    Scale: ONE map-side-combined pass builds the a×b cell table
    (one fact shuffle on a 20-key space — AQE coalesces); marginals,
    totals, and the 5-component readout are cell-table folds.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        F.col("event_type").alias("a"),
        F.expr("hour(ts) div 6").alias("b"),
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("x"),
    )
    cell = q.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
    )
    tot = q.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.countDistinct("a").cast("decimal(38,0)").alias("ka"),
        F.countDistinct("b").cast("decimal(38,0)").alias("kb"),
    )
    _idiv = (
        "cast(((({x}) - (({x}) % ({n}))) / ({n})) as decimal(38,0))"
    )
    _cm = _idiv.format(x="s * s", n="n")
    margin_ss = lambda key: (  # noqa: E731
        cell.groupBy(key)
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .agg(F.sum(F.expr(_cm)).alias("v"))
    )
    ssc = cell.agg(F.sum(F.expr(_cm)).alias("v"))
    nc = cell.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_cells"))
    _CM2 = _idiv.format(x="s * s", n="n")
    sc = (
        tot.crossJoin(F.broadcast(margin_ss("a").withColumnRenamed("v", "va")))
        .crossJoin(F.broadcast(margin_ss("b").withColumnRenamed("v", "vb")))
        .crossJoin(F.broadcast(ssc.withColumnRenamed("v", "vc")))
        .crossJoin(F.broadcast(nc))
        .select(
            F.expr(f"sxx - {_CM2}").alias("ss_tot"),
            F.expr(f"va - {_CM2}").alias("ss_a"),
            F.expr(f"vb - {_CM2}").alias("ss_b"),
            F.expr(f"vc - va - vb + {_CM2}").alias("ss_ab"),
            F.expr("sxx - vc").alias("ss_e"),
            F.expr("ka - 1").alias("df_a"),
            F.expr("kb - 1").alias("df_b"),
            F.expr("(ka - 1) * (kb - 1)").alias("df_ab"),
            F.expr("n - n_cells").alias("df_e"),
            F.expr("n - 1").alias("df_t"),
        )
    )
    comp = sc.selectExpr(
        "stack(5, "
        "'factor_a', df_a, ss_a, "
        "'factor_b', df_b, ss_b, "
        "'interaction', df_ab, ss_ab, "
        "'error', df_e, ss_e, "
        "'total', df_t, ss_tot) AS (component, df, ss)",
        "ss_e AS _sse",
        "df_e AS _dfe",
        "ss_tot AS _denom",
    )
    f_stat = F.when(
        (F.col("df") > 0) & (F.col("_sse") > 0) & (F.col("_dfe") > 0),
        F.floor(
            (
                F.expr("CAST(CAST(ss AS STRING) AS DOUBLE)")
                / F.expr("CAST(CAST(df AS STRING) AS DOUBLE)")
            )
            / (
                F.expr("CAST(CAST(_sse AS STRING) AS DOUBLE)")
                / F.expr("CAST(CAST(_dfe AS STRING) AS DOUBLE)")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return comp.select(
        "component",
        F.col("df").cast("long").alias("df"),
        F.expr("CAST(CAST(ss AS STRING) AS DOUBLE)").alias("ss_micro2"),
        F.expr("cast(ss * 1000000 div _denom as bigint)").alias(
            "eta2_ppm"
        ),
        f_stat.alias("f_stat"),
    )


# ---------- Levene variance-homogeneity test ----------


@register(
    "agg_levene_test",
    """
    WITH q AS (
      SELECT event_type AS g,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS x
      FROM events
    ),
    mu AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(CAST(x AS HUGEINT)) AS s
      FROM q GROUP BY g
    ),
    z AS (
      SELECT q.g, CAST(ABS(CAST(q.x AS HUGEINT) - mu.s // mu.n) AS HUGEINT)
               AS z
      FROM q JOIN mu ON mu.g = q.g
    ),
    zg AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(z) AS s,
             SUM(z * z) AS sxx
      FROM z GROUP BY g
    ),
    tot AS (
      SELECT SUM(n) AS n, SUM(s) AS s, SUM(sxx) AS sxx,
             CAST(COUNT(*) AS HUGEINT) AS k,
             SUM(s * s // n) AS vb
      FROM zg
    ),
    sc AS (
      SELECT k - 1 AS df1, n - k AS df2,
             vb - s * s // n AS ssb,
             sxx - vb AS ssw
      FROM tot
    )
    SELECT zg.g AS event_type, CAST(zg.n AS BIGINT) AS n,
           CAST(zg.s // zg.n AS BIGINT) AS mean_absdev_micro,
           CAST(sc.df1 AS BIGINT) AS df1, CAST(sc.df2 AS BIGINT) AS df2,
           CASE WHEN sc.ssw > 0 THEN
             FLOOR((CAST(CAST(sc.ssb AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(sc.df1 AS VARCHAR) AS DOUBLE))
                   / (CAST(CAST(sc.ssw AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(sc.df2 AS VARCHAR) AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS levene_w
    FROM zg, sc
    """,
    doc="Levene variance-homogeneity test (integer-mean variant) "
    "across event types: z = |x − floor-mean| in exact micro "
    "integers, one-way ANOVA F over z from HUGEINT moments — the "
    "equal-variance precondition check for agg_ab_test / "
    "agg_two_way_anova (heteroscedastic groups invalidate pooled-"
    "variance inference)",
)
def agg_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are group variances equal? Levene's test runs a one-way ANOVA
    on the absolute deviations z = |x − μ_g|: large between-group
    spread of z means the VARIANCES differ, which silently breaks
    every pooled-variance test upstream. The engine variant centers
    on the integer floor-mean (μ_g = S_g div n_g, exact micro) —
    within 1 micro of the float mean, and the deviation column stays
    an exact integer so both engines agree bitwise (the
    Brown-Forsythe median variant trades this for outlier
    robustness; here determinism wins and the choice is stated).

    All sums of squares use the exact HUGEINT/decimal(38,0) moment
    identities (S²//n truncating division per the ANOVA convention);
    only the final F ratio is float (string-cast divisions, 1e-6
    floor-quantized).

    Scale: two map-side-combined fact passes (group means, then
    deviation moments) with the 5-row mean table broadcast into the
    second — no shuffle of raw rows, no window, no join on the fact
    key.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("x"),
    )
    mu = q.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
    )
    z = q.join(F.broadcast(mu), "g").select(
        "g",
        F.expr(
            "cast(abs(cast(x as decimal(38,0)) - "
            "cast(((s - (s % n)) / n) as decimal(38,0))) as decimal(38,0))"
        ).alias("z"),
    )
    zg = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("sxx"),
    )
    _idiv = "cast(((({x}) - (({x}) % ({n}))) / ({n})) as decimal(38,0))"
    vb_term = _idiv.format(x="s * s", n="n")
    tot = zg.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("sxx").alias("sxx"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.sum(F.expr(vb_term)).alias("vb"),
    )
    cm = _idiv.format(x="s * s", n="n")
    sc = tot.select(
        F.expr("k - 1").alias("df1"),
        F.expr("n - k").alias("df2"),
        F.expr(f"vb - {cm}").alias("ssb"),
        F.expr("sxx - vb").alias("ssw"),
    )
    f_stat = F.when(
        F.col("ssw") > 0,
        F.floor(
            (
                F.expr("CAST(CAST(ssb AS STRING) AS DOUBLE)")
                / F.expr("CAST(CAST(df1 AS STRING) AS DOUBLE)")
            )
            / (
                F.expr("CAST(CAST(ssw AS STRING) AS DOUBLE)")
                / F.expr("CAST(CAST(df2 AS STRING) AS DOUBLE)")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return zg.crossJoin(F.broadcast(sc)).select(
        F.col("g").alias("event_type"),
        F.col("n").cast("long").alias("n"),
        F.expr("cast(((s - (s % n)) / n) as bigint)").alias(
            "mean_absdev_micro"
        ),
        F.col("df1").cast("long").alias("df1"),
        F.col("df2").cast("long").alias("df2"),
        f_stat.alias("levene_w"),
    )


# ---------- Friedman blocked rank test ----------

_FRIED_CRIT_Q6 = 9487729  # chi2(4, 0.95) = 9.487729, quantized 1e-6


@register(
    "agg_friedman_test",
    f"""
    WITH q AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             event_type AS t,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    dm AS (
      SELECT day, t, SUM(qv) // COUNT(*) AS x FROM q GROUP BY day, t
    ),
    kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM dm),
    full_days AS (
      SELECT day FROM dm, kk GROUP BY day, kk.k
      HAVING COUNT(*) = MAX(kk.k)
    ),
    r AS (
      SELECT dm.day, dm.t,
             2 * RANK() OVER (PARTITION BY dm.day ORDER BY dm.x)
               + CAST(COUNT(*) OVER (PARTITION BY dm.day, dm.x) AS BIGINT)
               - 1 AS dr
      FROM dm JOIN full_days USING (day)
    ),
    rt AS (
      SELECT t, CAST(SUM(dr) AS HUGEINT) AS r2,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM r GROUP BY t
    ),
    sc AS (
      SELECT MAX(n) AS n, CAST(MAX(kk.k) AS HUGEINT) AS k,
             SUM(r2 * r2) AS sr2
      FROM rt, kk
    ),
    fin AS (
      SELECT n, k,
             3 * sr2 * 1000000 // (4 * n * k * (k + 1))
               - 3 * n * (k + 1) * 1000000 AS q_q6
      FROM sc
    )
    SELECT rt.t AS event_type,
           CAST(rt.r2 // 2 AS BIGINT) AS rank_sum_x2_half,
           CAST(rt.r2 * 1000000 // (2 * rt.n) AS BIGINT) AS mean_rank_ppm,
           CAST(fin.n AS BIGINT) AS n_blocks,
           CAST(fin.k AS BIGINT) AS k,
           CAST(fin.q_q6 AS DOUBLE) / 1000000.0 AS friedman_q,
           CASE WHEN fin.k = 5
                THEN COALESCE(fin.q_q6 >= {_FRIED_CRIT_Q6}, FALSE) END
             AS reject_h0
    FROM rt, fin
    """,
    doc="Friedman blocked rank test (days as blocks, event types as "
    "treatments, daily mean value as the response): doubled midranks "
    "keep ties integer-exact, Q = 3·ΣR2²·1e6//(4nk(k+1)) − 3n(k+1) "
    "in pure integer ppm arithmetic, verdict vs χ²(4) when k=5 — "
    "the repeated-measures sibling of agg_kruskal_wallis (which "
    "ignores the day blocking this test controls for)",
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do event types differ AFTER controlling for day effects? Each
    complete day ranks its k treatment means; Friedman's Q tests
    whether rank sums diverge. Day-to-day level shifts — which
    inflate Kruskal-Wallis's pooled ranks — cancel inside each block,
    so this is the right k-sample test when blocks (days, subjects,
    sites) dominate variance.

    Determinism: doubled midranks (2·rank + ties − 1) are pure
    integers; the day-mean response is an exact integer division;
    Q's rational term is ONE truncating integer division at the 1e-6
    grid and the subtrahend 3n(k+1)·1e6 is exact — no floats
    anywhere, including the χ²(4) verdict (quantized-integer
    compare, emitted only for k = 5 where the literal applies;
    incomplete days are excluded, stated not hidden).

    Scale: one map-side-combined (day, type) aggregate off the fact
    scan; ranks run in windows partitioned by DAY over ≤k rows each
    (never global); everything after is k-row arithmetic. R2² at a
    century of days ~ (2k·n)² ≈ 1e12 — HUGEINT/decimal(38,0) per
    the convention anyway.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    dm = q.groupBy("day", "t").agg(
        F.expr("sum(qv) div count(1)").cast("long").alias("x")
    )
    kk = dm.agg(F.countDistinct("t").cast("long").alias("k"))
    full_days = (
        dm.crossJoin(F.broadcast(kk))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("_c"), F.max("k").alias("_k")
        )
        .filter(F.col("_c") == F.col("_k"))
        .select("day")
    )
    wr = Window.partitionBy("day").orderBy("x")
    wt = Window.partitionBy("day", "x")
    r = dm.join(F.broadcast(full_days), "day").select(
        "day",
        "t",
        (
            F.lit(2) * F.rank().over(wr)
            + F.count(F.lit(1)).over(wt).cast("long")
            - 1
        ).alias("dr"),
    )
    rt = r.groupBy("t").agg(
        F.sum("dr").cast("decimal(38,0)").alias("r2"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    sc = rt.crossJoin(F.broadcast(kk)).agg(
        F.max("n").alias("n"),
        F.max("k").cast("decimal(38,0)").alias("k"),
        F.sum(F.col("r2") * F.col("r2")).alias("sr2"),
    )
    fin = sc.select(
        F.col("n").alias("nb"),
        "k",
        F.expr(
            "3 * sr2 * 1000000 div (4 * n * k * (k + 1)) "
            "- 3 * n * (k + 1) * 1000000"
        ).alias("q_q6"),
    )
    return rt.crossJoin(F.broadcast(fin)).select(
        F.col("t").alias("event_type"),
        F.expr("cast(r2 div 2 as bigint)").alias("rank_sum_x2_half"),
        F.expr("cast(r2 * 1000000 div (2 * n) as bigint)").alias(
            "mean_rank_ppm"
        ),
        F.col("nb").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k"),
        (F.col("q_q6").cast("double") / F.lit(1e6)).alias("friedman_q"),
        F.when(
            F.col("k") == 5,
            F.coalesce(F.col("q_q6") >= _FRIED_CRIT_Q6, F.lit(False)),
        ).alias("reject_h0"),
    )


# ---------- capture-recapture population estimate ----------


@register(
    "agg_capture_recapture",
    """
    WITH q AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events
    ),
    sp AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM q),
    caps AS (
      SELECT user_id,
             MAX(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS c1,
             MAX(CASE WHEN day > mid THEN 1 ELSE 0 END) AS c2
      FROM q, sp GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n_true,
             CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c2) AS HUGEINT) AS n2,
             CAST(SUM(c1 * c2) AS HUGEINT) AS m
      FROM caps
    )
    SELECT CAST(n1 AS BIGINT) AS n_capture1,
           CAST(n2 AS BIGINT) AS n_capture2,
           CAST(m AS BIGINT) AS n_both,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(CASE WHEN m > 0 THEN n1 * n2 // m END AS BIGINT)
             AS lincoln_petersen,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
             AS chapman,
           CAST(CASE WHEN m > 0 THEN
             ABS(n1 * n2 // m - n_true) * 1000000 // n_true END
             AS BIGINT) AS lp_err_ppm
    FROM s
    """,
    doc="capture-recapture population estimate: users 'captured' in "
    "each half of the day range, Lincoln-Petersen n1*n2//m and the "
    "bias-corrected Chapman (n1+1)(n2+1)//(m+1)-1 in exact integers, "
    "audited against the true distinct count — the mark-recapture "
    "method that sizes what you CANNOT enumerate (total crawlable "
    "corpus from two overlapping crawls, true user base from two "
    "observation windows)",
)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate an unobservable population from two overlapping
    samples: if capture 1 marks n1 users, capture 2 catches n2 of
    which m are re-captures, independence gives N ≈ n1·n2/m
    (Lincoln-Petersen); Chapman's +1 correction fixes the small-m
    bias and never divides by zero. The same arithmetic estimates
    total corpus size from two crawl snapshots or deduplicated
    entity counts from two extraction passes — here the truth is
    observable, so the output carries the estimation error too (the
    method's independence assumption is exactly what the error
    audits: event-frequent users are likelier in BOTH halves, biasing
    N̂ low — visible in lp_err_ppm).

    Determinism: captures are exact per-user MAX flags off one
    grouped pass; both estimators are truncating integer divisions
    (HUGEINT/decimal(38,0) — n1·n2 is n² at fact scale).

    Scale: one fact projection → per-user flags (map-side combine on
    user_id) → 1-row scalars. The day-split scalar broadcasts.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    sp = q.agg(
        F.expr("(min(day) + max(day)) div 2").alias("mid")
    )
    caps = (
        q.crossJoin(F.broadcast(sp))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0))
            .alias("c1"),
            F.max(F.when(F.col("day") > F.col("mid"), 1).otherwise(0))
            .alias("c2"),
        )
    )
    d38 = "decimal(38,0)"
    s = caps.agg(
        F.count(F.lit(1)).cast(d38).alias("n_true"),
        F.sum("c1").cast(d38).alias("n1"),
        F.sum("c2").cast(d38).alias("n2"),
        F.sum(F.expr("c1 * c2")).cast(d38).alias("m"),
    )
    return s.select(
        F.col("n1").cast("long").alias("n_capture1"),
        F.col("n2").cast("long").alias("n_capture2"),
        F.col("m").cast("long").alias("n_both"),
        F.col("n_true").cast("long").alias("n_true"),
        F.expr(
            "cast(case when m > 0 then n1 * n2 div m end as bigint)"
        ).alias("lincoln_petersen"),
        F.expr(
            "cast((n1 + 1) * (n2 + 1) div (m + 1) - 1 as bigint)"
        ).alias("chapman"),
        F.expr(
            "cast(case when m > 0 then abs(n1 * n2 div m - n_true) "
            "* 1000000 div n_true end as bigint)"
        ).alias("lp_err_ppm"),
    )


# ---------- Cochran's Q (binary blocked test) ----------


@register(
    "agg_cochran_q",
    f"""
    WITH x AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             event_type
      FROM events
      GROUP BY user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000,
               event_type
    ),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS HUGEINT) AS k
           FROM x),
    gj AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS g
      FROM x GROUP BY event_type
    ),
    li AS (
      SELECT user_id, d, CAST(COUNT(*) AS HUGEINT) AS l
      FROM x GROUP BY user_id, d
    ),
    sc AS (
      SELECT kk.k,
             (SELECT CAST(COUNT(*) AS HUGEINT) FROM li) AS n_users,
             (SELECT SUM(g * g) FROM gj) AS sg2,
             (SELECT SUM(g) FROM gj) AS t,
             (SELECT SUM(l) FROM li) AS sl,
             (SELECT SUM(l * l) FROM li) AS sl2
      FROM kk
    ),
    fin AS (
      SELECT k, n_users,
             CASE WHEN k * sl - sl2 > 0 THEN
               (k - 1) * (k * sg2 - t * t) * 1000000
                 // (k * sl - sl2)
             END AS q_q6
      FROM sc
    )
    SELECT gj.event_type, CAST(gj.g AS BIGINT) AS n_users_hit,
           CAST(fin.n_users AS BIGINT) AS n_users,
           CAST(fin.k AS BIGINT) AS k,
           CAST(fin.q_q6 AS DOUBLE) / 1000000.0 AS cochran_q,
           CASE WHEN fin.k = 5
                THEN COALESCE(fin.q_q6 >= 9487729, FALSE) END
             AS reject_h0
    FROM gj, fin
    """,
    doc="Cochran's Q (binary Friedman — user-days as blocks, event "
    "types as treatments, did-user-do-it-that-day as the response): "
    "Q = (k−1)(kΣG² − T²)·1e6 // (kΣL − ΣL²) in pure integer ppm "
    "arithmetic, verdict vs χ²(4) when k=5 — do reach rates differ "
    "across event types AFTER controlling for per-user activity",
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the k event types reach different DAILY per-user odds,
    blocking on the (user, day)? Marginal reach rates confound type
    popularity with user activity (heavy users hit everything);
    Cochran's Q — the binary-response specialization of Friedman —
    tests equal within-block hit patterns. Blocks are user-DAYS, not
    users: over a full observation window every active user touches
    all k types (L_i = k for every block → kΣL − ΣL² = 0 and the
    statistic is undefined — measured, not hypothetical, at both
    test SFs), while daily activity genuinely varies. Constant
    blocks (all k or none) contribute zero to both kΣL − ΣL² and
    the G spread, so no block filtering is needed — the formula
    self-discounts them; a fully-degenerate corpus still yields
    NULL, not a crash.

    Determinism: every term is an exact integer (distinct-hit flags →
    counts → squares in HUGEINT/decimal(38,0)); Q is ONE truncating
    integer division at the 1e-6 grid, and the χ²(4) verdict compares
    quantized integers (emitted only for k = 5 where the literal
    critical value applies).

    Scale: one (user, day, type) distinct pass off the fact scan
    (map-side combine), then block- and type-sized folds. ΣL² ≤
    k²·blocks — nowhere near the decimal bound.
    """
    ev = load(spark, "events", sf_dir)
    d38 = "decimal(38,0)"
    x = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        "event_type",
    ).distinct()
    kk = x.agg(F.countDistinct("event_type").cast(d38).alias("k"))
    gj = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("g")
    )
    li = x.groupBy("user_id", "d").agg(
        F.count(F.lit(1)).cast(d38).alias("l")
    )
    gsc = gj.agg(
        F.sum(F.expr("g * g")).alias("sg2"), F.sum("g").alias("t")
    )
    lsc = li.agg(
        F.count(F.lit(1)).cast(d38).alias("n_users"),
        F.sum("l").alias("sl"),
        F.sum(F.expr("l * l")).alias("sl2"),
    )
    fin = (
        kk.crossJoin(F.broadcast(gsc))
        .crossJoin(F.broadcast(lsc))
        .select(
            "k",
            "n_users",
            F.expr(
                "case when k * sl - sl2 > 0 then "
                "(k - 1) * (k * sg2 - t * t) * 1000000 "
                "div (k * sl - sl2) end"
            ).alias("q_q6"),
        )
    )
    return gj.crossJoin(F.broadcast(fin)).select(
        "event_type",
        F.col("g").cast("long").alias("n_users_hit"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("k"),
        (F.col("q_q6").cast("double") / F.lit(1e6)).alias("cochran_q"),
        F.when(
            F.col("k") == 5,
            F.coalesce(F.col("q_q6") >= 9487729, F.lit(False)),
        ).alias("reject_h0"),
    )


# ---------- Hodges–Lehmann robust location ----------


@register(
    "agg_hodges_lehmann",
    """
    WITH series AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS x,
             SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT))
               // COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    pm AS (
      SELECT a.event_type, a.y + b.y AS s2
      FROM series a JOIN series b
        ON b.event_type = a.event_type AND b.x >= a.x
    ),
    ranked AS (
      SELECT event_type, s2,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s2, event_type) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM pm
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CAST(CAST(s2 AS DOUBLE) / 2.0 / 1000000.0 AS DOUBLE)
             AS hl_location
    FROM ranked WHERE rn = (n + 1) // 2
    """,
    doc="Hodges–Lehmann robust location per event-type series: the "
    "median of all pairwise Walsh averages (y_i + y_j)/2 over the "
    "hourly means (i ≤ j, self-pairs included per the estimator's "
    "definition) — the location twin of agg_theil_sen's slope and the "
    "point estimate dual of the Wilcoxon test, 29% breakdown where "
    "the mean has none; doubled sums keep the median pick exact",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pseudomedian: median of Walsh averages (yᵢ+yⱼ)/2 over all
    i ≤ j. Carrying the DOUBLED sum yᵢ+yⱼ (exact integer) until the
    final element pick sidesteps the half-integer float: the median is
    chosen on exact integers (ties broken by value equality — ranking
    the same multiset identically on both engines), then divided once.
    Pairs with i = j are included — the estimator's definition, which
    also makes it reduce to the sample median for n = 1.

    Scale: same O(n²)-per-series bound as agg_theil_sen /
    ts_mann_kendall — n is HOURS after the map-side rollup, never raw
    events; stride the left side for year-long series.
    """
    ev = load(spark, "events", sf_dir)
    series = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("x"),
    ).agg(
        F.expr(
            "sum(cast(floor(value * 1000000.0 + 0.5) as decimal(38,0)))"
            " div count(1)"
        )
        .cast("long")
        .alias("y")
    )
    a = series.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = series.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    pm = a.join(
        b,
        (F.col("event_type") == F.col("et_b"))
        & (F.col("xb") >= F.col("xa")),
    ).select("event_type", (F.col("ya") + F.col("yb")).alias("s2"))
    wr = Window.partitionBy("event_type").orderBy("s2", "event_type")
    wn = Window.partitionBy("event_type")
    ranked = pm.select(
        "event_type",
        "s2",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        (F.col("s2").cast("double") / F.lit(2.0) / F.lit(1e6)).alias(
            "hl_location"
        ),
    )
