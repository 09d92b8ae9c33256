"""Window / time-series operators (SURVEY §2.6).

``win_sliding_time`` mirrors the inference adapter's sliding
window_size=32 sample extraction (reference
``inference/carboninference/core.py:73-117``): per grid cell, a
bounded ``rowsBetween`` window ordered by time, keeping only full
windows. The oracle-checked variant returns scalarized window stats
(rolling sums are summed as quantized integers so any evaluation
order — Spark running-frame vs DuckDB segment tree — gives the same
bits); the tensor-shaped ``collect_list`` variant is rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.functions.era5_fixture import ERA5_CTE, era5_events
from cs_pipeline_spark.operators.helpers import dec_to_double, dround, one_part, literal_df
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load

WINDOW_SIZE = 4  # driver-fixture analogue of the reference's 32


@register(
    "win_sliding_time",
    f"WITH {ERA5_CTE} SELECT * FROM ("
    "SELECT event_id, latitude, longitude, "
    f"COUNT(*) OVER w AS win_n, "
    "(CAST(CAST(SUM(CAST(FLOOR(t2m * 1000000.0 + 0.5) AS DECIMAL(38,0))) OVER w "
    "AS VARCHAR) AS DOUBLE) / 1000000.0) AS win_sum_t2m, "
    "MIN(u10) OVER w AS win_min_u10, MAX(v10) OVER w AS win_max_v10 "
    "FROM era5 "
    f"WINDOW w AS (PARTITION BY latitude, longitude ORDER BY event_id "
    f"ROWS BETWEEN {WINDOW_SIZE - 1} PRECEDING AND CURRENT ROW)"
    f") t WHERE win_n = {WINDOW_SIZE}",
    doc="sliding full-window extraction per grid cell (inference core.py:73-117)",
)
def win_sliding_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = era5_events(spark, sf_dir)
    w = (
        Window.partitionBy("latitude", "longitude")
        .orderBy("event_id")
        .rowsBetween(-(WINDOW_SIZE - 1), Window.currentRow)
    )
    qsum = (
        F.sum(F.floor(F.col("t2m") * 1000000.0 + 0.5).cast("decimal(38,0)")).over(w)
        .cast("string")
        .cast("double")
        / 1000000.0
    )
    out = df.select(
        "event_id",
        "latitude",
        "longitude",
        F.count(F.lit(1)).over(w).alias("win_n"),
        qsum.alias("win_sum_t2m"),
        F.min("u10").over(w).alias("win_min_u10"),
        F.max("v10").over(w).alias("win_max_v10"),
    )
    return out.filter(F.col("win_n") == WINDOW_SIZE)


@register(
    "win_collect_series",
    # array outputs ARE oracle-comparable: both engines emit the frame's
    # values in frame order (ORDER BY the unique event_id)
    f"WITH {ERA5_CTE} SELECT * FROM ("
    "SELECT event_id, latitude, longitude, "
    "list(t2m) OVER w AS t2m_series, "
    "list(u10) OVER w AS u10_series, "
    "CAST(len(list(t2m) OVER w) AS INT) AS win_n "
    "FROM era5 "
    f"WINDOW w AS (PARTITION BY latitude, longitude ORDER BY event_id "
    f"ROWS BETWEEN {WINDOW_SIZE - 1} PRECEDING AND CURRENT ROW)"
    f") t WHERE win_n = {WINDOW_SIZE}",
    doc="(n_vars, window) tensor samples via collect_list (inference core.py:98-117)",
)
def win_collect_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual ML-sample operator: arrays of the last WINDOW_SIZE
    values per variable per cell — feed to a batch inference source."""
    df = era5_events(spark, sf_dir)
    w = (
        Window.partitionBy("latitude", "longitude")
        .orderBy("event_id")
        .rowsBetween(-(WINDOW_SIZE - 1), Window.currentRow)
    )
    out = df.select(
        "event_id",
        "latitude",
        "longitude",
        F.collect_list("t2m").over(w).alias("t2m_series"),
        F.collect_list("u10").over(w).alias("u10_series"),
        F.size(F.collect_list("t2m").over(w)).alias("win_n"),
    )
    return out.filter(F.col("win_n") == WINDOW_SIZE)


@register(
    "win_rank_lag",
    f"SELECT event_id, user_id, "
    "CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn, "
    "LAG(value) OVER w AS prev_value, "
    "LEAD(value) OVER w AS next_value, "
    "value - LAG(value) OVER w AS delta "
    f"FROM (SELECT event_id, user_id, {EVENTS_TS_SQL} AS ts, value FROM events) t "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts)",
    doc="ranking + lead/lag per key (completeness; absent in reference)",
)
def win_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "time_features",
    f"SELECT event_id, "
    f"CAST(dayofyear({EVENTS_TS_SQL}) AS BIGINT) AS doy, "
    f"CAST(hour({EVENTS_TS_SQL}) AS BIGINT) AS tod "
    "FROM events",
    doc="DOY/TOD cyclical features (inference core.py:54-58)",
)
def time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, "events", sf_dir)
    return ev.select(
        "event_id",
        F.dayofyear("ts").cast("bigint").alias("doy"),
        F.hour("ts").cast("bigint").alias("tod"),
    )


@register(
    "sort_coords",
    f"WITH {ERA5_CTE} SELECT DISTINCT latitude, longitude FROM era5 "
    "ORDER BY latitude DESC, longitude DESC",
    doc="descending coordinate sort at sink (dataset.py:51,54,80)",
)
def sort_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = era5_events(spark, sf_dir)
    return (
        df.select("latitude", "longitude")
        .distinct()
        .orderBy(F.desc("latitude"), F.desc("longitude"))
    )


@register(
    "win_sessionize",
    "WITH o AS (SELECT event_id, user_id, "
    f"{EVENTS_TS_SQL} AS ts, "
    f"CASE WHEN {EVENTS_TS_SQL} >= lag({EVENTS_TS_SQL}) OVER w + INTERVAL '5 minutes' "
    "OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
    "SELECT event_id, user_id, ts, "
    "CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq "
    "FROM o",
    doc="per-event session assignment (5-min gap): lag + running count — "
    "the event→session_id labeling that session aggregates are built on",
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each event its session ordinal per user (gap ≥ 5 min
    starts a new session). One shuffle on user_id; integer running
    count — engine-agnostic. At 100 TB this is the conversation/
    activity threading primitive for training-data assembly."""
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.col("ts")
            >= F.lag("ts").over(w) + F.expr("INTERVAL 5 MINUTES"),
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(new_sess).over(wc).cast("long").alias("session_seq"),
    )


# ---------- running (cumulative) per-key statistics ----------


@register(
    "win_running_stats",
    "SELECT event_id, user_id, "
    "COUNT(value) OVER w AS running_n, "
    "(CAST(CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS DECIMAL(38,0))) "
    "OVER w AS VARCHAR) AS DOUBLE) / 1000000.0) AS running_sum, "
    "MIN(value) OVER w AS running_min, MAX(value) OVER w AS running_max "
    f"FROM (SELECT event_id, user_id, {EVENTS_TS_SQL} AS ts, value "
    "FROM events) "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    doc="cumulative per-user count/sum/min/max in time order "
    "(quantized-integer running sum — engine-agnostic bits)",
)
def win_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates per key in event-time order — the
    online-feature / monitoring primitive. The running sum accumulates
    QUANTIZED INTEGERS in decimal, so Spark's running-frame evaluation
    and DuckDB's segment tree produce identical bits regardless of
    association order; min/max/count are order-free. One shuffle on
    the partition key; the frame is rowsBetween so Spark streams it
    without buffering the whole partition."""
    ev = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("value").over(w).alias("running_n"),
        (
            F.sum(q).over(w).cast("string").cast("double")
            / F.lit(1000000.0)
        ).alias("running_sum"),
        F.min("value").over(w).alias("running_min"),
        F.max("value").over(w).alias("running_max"),
    )


@register(
    "win_fill_forward",
    "WITH e AS (SELECT event_id, user_id, "
    f"{EVENTS_TS_SQL} AS ts, "
    "CASE WHEN event_type <> 'click' THEN value END AS raw_value "
    "FROM events) "
    "SELECT event_id, user_id, raw_value, "
    "last_value(raw_value IGNORE NULLS) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value "
    "FROM e",
    doc="per-key forward-fill (LOCF) of missing values in event-time order — the gap-fill primitive under join_gapfill_station, generalized",
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward per key: nulls take the most
    recent non-null value earlier in event time (here nulls are
    derived deterministically: 'click' events carry no value).

    The fill is a pure VALUE CARRY — no arithmetic touches the
    double, so cross-engine determinism is free. One shuffle on the
    partition key; the running frame streams (no whole-partition
    buffering). The same plan at 100 TB: partition pruning applies
    upstream, and the window state is one value per key.
    """
    ev = load(spark, "events", sf_dir)
    raw = F.when(F.col("event_type") != "click", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        raw.alias("raw_value"),
        F.last(raw, ignorenulls=True).over(w).alias("filled_value"),
    )


_GAP_US = 30 * 60 * 1000000  # 30-minute inactivity gap


@register(
    "win_gap_detect",
    "WITH e AS (SELECT event_id, user_id, "
    f"epoch_us({EVENTS_TS_SQL}) AS ts_us, "
    "LAG(event_id) OVER w AS prev_event_id, "
    f"LAG(epoch_us({EVENTS_TS_SQL})) OVER w AS prev_ts_us "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY "
    f"{EVENTS_TS_SQL}, event_id)) "
    "SELECT user_id, prev_event_id, event_id, "
    "ts_us - prev_ts_us AS gap_us FROM e "
    f"WHERE prev_ts_us IS NOT NULL AND ts_us - prev_ts_us > {_GAP_US}",
    doc="event-gap detection: per-key consecutive pairs more than 30 min apart (lag + integer µs diff) — the outage/session-boundary report dual of win_sessionize",
)
def win_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring primitive: where did a key go silent? ``lag`` over
    the per-key time order, gap computed in integer MICROSECONDS
    (epoch µs both engines — no float time arithmetic). One shuffle
    on the key; rows stream through the running frame. The 100 TB
    companion trick: pre-filter with a partition-pruned time range so
    the window reads days, not years."""
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    d = ev.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lag(us).over(w).alias("prev_ts_us"),
    )
    return d.filter(
        F.col("prev_ts_us").isNotNull()
        & ((F.col("ts_us") - F.col("prev_ts_us")) > _GAP_US)
    ).select(
        "user_id",
        "prev_event_id",
        "event_id",
        (F.col("ts_us") - F.col("prev_ts_us")).alias("gap_us"),
    )


@register(
    "win_ntile_decile",
    "WITH e AS (SELECT event_id, event_type, value, "
    "NTILE(10) OVER (PARTITION BY event_type ORDER BY "
    f"CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT), event_id) AS decile "
    f"FROM (SELECT event_id, event_type, value FROM events) t) "
    "SELECT event_type, decile, COUNT(*) AS n, "
    "MIN(value) AS lo, MAX(value) AS hi "
    "FROM e GROUP BY event_type, decile",
    doc="decile bucketing (feature binning): ntile(10) per group on a quantized total order, summarized to bucket boundaries",
)
def win_ntile_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning — the feature-engineering step behind
    'convert this score to a decile'. The order key is quantized (+
    event_id tie-break) so bucket boundaries are a total order and
    both engines cut identical buckets. One shuffle on the group key;
    the summary collapses rows to 10 buckets per group before any
    further join. For a global (ungrouped) decile at 100 TB, swap the
    window for quantile-sketch cut points + a map-side bucket lookup."""
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)), F.col("event_id")
    )
    return (
        ev.select(
            "event_type", "value", F.ntile(10).over(w).alias("decile")
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


_Z_WIN = 8  # rolling frame: last 8 events per key


@register(
    "win_rolling_zscore",
    "WITH e AS (SELECT event_id, user_id, value, "
    f"{EVENTS_TS_SQL} AS ts, "
    "CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS q "
    "FROM events), "
    "w AS (SELECT event_id, user_id, value, "
    "COUNT(value) OVER fr AS n_win, "
    "SUM(q) OVER fr AS s1, "
    "SUM(q * q) OVER fr AS s2 "
    "FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id "
    f"ROWS BETWEEN {_Z_WIN - 1} PRECEDING AND CURRENT ROW)) "
    "SELECT event_id, user_id, n_win, "
    "CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / 1000000.0 / n_win AS roll_mean, "
    "CASE WHEN n_win > 1 AND (s2 * n_win - s1 * s1) > 0 THEN "
    "(value - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / 1000000.0 / n_win) / "
    "SQRT(CAST(CAST((s2 * n_win - s1 * s1) AS VARCHAR) AS DOUBLE) "
    "/ (CAST(n_win AS DOUBLE) * n_win) / 1000000000000.0) END AS zscore "
    "FROM w",
    doc=f"rolling z-score (anomaly detection): mean/std over the last {_Z_WIN} events per key via exact quantized window sums — the windowed twin of the dvar_pop integer path",
)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rolling anomaly score. The rolling variance uses the
    SAME exact-integer numerator as ``helpers.dvar_pop`` (n·Σq² −
    (Σq)² in decimal), just computed over a window frame — so the
    cancellation-free determinism carries over to running stats, any
    partitioning, both engines. Zero/low-variance frames yield null
    (no divide-by-~0 blowups). One shuffle on the key; bounded frame
    state (8 rows)."""
    ev = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_Z_WIN - 1), Window.currentRow)
    )
    q = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    q2 = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(19,0)"
    )
    n = F.count("value").over(w)
    s1 = F.sum(q).over(w)
    s2 = F.sum(q2 * q2).over(w)
    s1d = s1.cast("string").cast("double")
    mean = s1d / F.lit(1e6) / n
    num = s2 * n.cast("decimal(20,0)") - s1 * s1
    numd = num.cast("string").cast("double")
    var = numd / (n.cast("double") * n) / F.lit(1e12)
    z = F.when(
        (n > 1) & (num > 0), (F.col("value") - mean) / F.sqrt(var)
    )
    return ev.select(
        "event_id",
        "user_id",
        n.alias("n_win"),
        mean.alias("roll_mean"),
        z.alias("zscore"),
    )


@register(
    "win_scd2_intervals",
    "WITH e AS (SELECT event_id, user_id, event_type, value, "
    f"{EVENTS_TS_SQL} AS ts FROM events WHERE event_type = 'signup' OR event_type = 'purchase') "
    "SELECT event_id, user_id, value, ts AS valid_from, "
    "LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to, "
    "LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current "
    "FROM e",
    doc="SCD2 validity intervals from a change log: valid_from = event time, valid_to = next change (lead), open interval flags the current row",
)
def win_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) construction: a change log
    becomes per-key [valid_from, valid_to) history rows with one
    ``lead`` pass — the dimension-table build every warehouse
    pipeline runs. One shuffle on the key; as-of joins against the
    result use the interval (join_asof / join_interval_buckets
    patterns). The open (null valid_to) row is the current version."""
    ev = load(spark, "events", sf_dir).filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "win_percent_rank",
    "WITH e AS (SELECT event_id, event_type, value, "
    "PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY "
    f"CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT), event_id) AS pct "
    "FROM events) "
    "SELECT event_id, event_type, value, pct FROM e WHERE pct >= 0.99",
    doc="percent_rank tail selection: top-1% rows per group on a quantized total order — (rank−1)/(n−1) is an exact integer ratio, identical both engines",
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank tail extraction (outlier/top-percentile pulls).
    percent_rank = (rank−1)/(n−1): integers in, one exact division
    out — no cross-engine drift, and the quantized order key +
    event_id tie-break make the rank itself deterministic. One
    shuffle on the group key."""
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)), F.col("event_id")
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "value",
            F.percent_rank().over(w).alias("pct"),
        )
        .filter(F.col("pct") >= 0.99)
    )


# ---------- full inference-batch assembly (reference parity) ----------

_IGBP_N = 4  # 4×4 coarse static-raster grid


def _igbp_grid(spark: SparkSession) -> DataFrame:
    """Static IGBP-style categorical raster on a coarser grid
    (deterministic codes 0..16 — the 17 IGBP classes)."""
    ky = spark.range(_IGBP_N).select(F.col("id").alias("ky"))
    kx = spark.range(_IGBP_N).select(F.col("id").alias("kx"))
    return ky.crossJoin(kx).select(
        (44.9 + F.col("ky").cast("double") * 0.5).alias("ilat"),
        (-74.1 + F.col("kx").cast("double") * 0.5).alias("ilon"),
        ((F.col("ky") * _IGBP_N + F.col("kx")) % 17).alias("igbp_code"),
    )


_IGBP_SQL = (
    f"igbp AS (SELECT 44.9 + CAST(ky.k AS DOUBLE) * 0.5 AS ilat, "
    f"-74.1 + CAST(kx.k AS DOUBLE) * 0.5 AS ilon, "
    f"(ky.k * {_IGBP_N} + kx.k) % 17 AS igbp_code "
    f"FROM range({_IGBP_N}) ky(k) CROSS JOIN range({_IGBP_N}) kx(k))"
)


def _sql_snap(name, vcol, rcol, out):
    return (
        f"{name} AS (SELECT {vcol}, {out} FROM ("
        f"SELECT v.{vcol}, r.{rcol} AS {out}, "
        f"ROW_NUMBER() OVER (PARTITION BY v.{vcol} "
        f"ORDER BY ABS(v.{vcol} - r.{rcol}), r.{rcol}) AS rn "
        f"FROM (SELECT DISTINCT {vcol} FROM era5) v "
        f"CROSS JOIN (SELECT DISTINCT {rcol} FROM igbp) r) WHERE rn = 1)"
    )


_ML_ORACLE = (
    f"WITH {ERA5_CTE}, {_IGBP_SQL}, "
    + _sql_snap("slat", "latitude", "ilat", "snap_lat")
    + ", "
    + _sql_snap("slon", "longitude", "ilon", "snap_lon")
    + ", e AS (SELECT era5.*, g.igbp_code "
    "FROM era5 JOIN slat USING (latitude) JOIN slon USING (longitude) "
    "LEFT JOIN igbp g ON g.ilat = slat.snap_lat AND g.ilon = slon.snap_lon) "
    "SELECT event_id, latitude, longitude, igbp_code, win_sum_t2m, doy, tod "
    "FROM (SELECT event_id, latitude, longitude, igbp_code, "
    "COUNT(*) OVER w AS win_n, "
    "(CAST(CAST(SUM(CAST(FLOOR(t2m * 1000000.0 + 0.5) AS DECIMAL(38,0))) "
    "OVER w AS VARCHAR) AS DOUBLE) / 1000000.0) AS win_sum_t2m, "
    "CAST(dayofyear(valid_time) AS BIGINT) AS doy, "
    "CAST(hour(valid_time) AS BIGINT) AS tod "
    "FROM e WINDOW w AS (PARTITION BY latitude, longitude ORDER BY event_id "
    f"ROWS BETWEEN {WINDOW_SIZE - 1} PRECEDING AND CURRENT ROW)) t "
    f"WHERE win_n = {WINDOW_SIZE}"
)


@register(
    "ml_sample_assembly",
    _ML_ORACLE,
    doc="full inference-batch assembly (inference core.py:37-135): sliding window stats + nearest-interpolated static IGBP label + DOY/TOD aux per sample — the complete ERA5Dataset.__getitem__ as one query",
)
def ml_sample_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``ERA5Dataset`` emits, per (t, y, x): a
    window_size tensor slice, the cell's nearest-interpolated IGBP
    class (static raster, ``interp(method='nearest')``,
    inference core.py:61-71), and DOY/TOD aux features (core.py:54-58).
    Spark-first assembly: per-cell sliding window (one shuffle) ⋈
    broadcast nearest-snapped IGBP mapping (axis-independent 1-D
    snaps, like the reference's xarray interp) + calendar features —
    all in one plan; the windowed tensor itself is the
    ``win_collect_series`` column, summarized here by the quantized
    window sum so the driver can hash it."""
    from cs_pipeline_spark.operators.joins import join_nearest_coord

    df = era5_events(spark, sf_dir)
    igbp = _igbp_grid(spark)
    snapped = join_nearest_coord(
        join_nearest_coord(
            df, igbp.select("ilat"), "latitude", "ilat", "snap_lat"
        ),
        igbp.select("ilon"),
        "longitude",
        "ilon",
        "snap_lon",
    ).join(
        F.broadcast(igbp),
        (F.col("snap_lat") == F.col("ilat"))
        & (F.col("snap_lon") == F.col("ilon")),
        "left",
    )
    w = (
        Window.partitionBy("latitude", "longitude")
        .orderBy("event_id")
        .rowsBetween(-(WINDOW_SIZE - 1), Window.currentRow)
    )
    qsum = (
        F.sum(
            F.floor(F.col("t2m") * 1000000.0 + 0.5).cast("decimal(38,0)")
        ).over(w)
        .cast("string")
        .cast("double")
        / 1000000.0
    )
    out = snapped.select(
        "event_id",
        "latitude",
        "longitude",
        "igbp_code",
        F.count(F.lit(1)).over(w).alias("win_n"),
        qsum.alias("win_sum_t2m"),
        F.dayofyear("valid_time").cast("bigint").alias("doy"),
        F.hour("valid_time").cast("bigint").alias("tod"),
    )
    return out.filter(F.col("win_n") == WINDOW_SIZE).drop("win_n")


@register(
    "win_streak_islands",
    "WITH e AS (SELECT event_id, user_id, event_type, "
    f"{EVENTS_TS_SQL} AS ts FROM events), "
    "g AS (SELECT user_id, event_type, "
    "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "- ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island "
    "FROM e), "
    "s AS (SELECT user_id, event_type, island, COUNT(*) AS streak_len "
    "FROM g GROUP BY user_id, event_type, island) "
    "SELECT user_id, event_type, MAX(streak_len) AS max_streak, "
    "COUNT(*) AS n_streaks FROM s GROUP BY user_id, event_type",
    doc="gaps-and-islands: longest consecutive same-type run per user (double row_number difference) — the streak/run-length primitive behind retention and anomaly-burst analysis",
)
def win_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gaps-and-islands rewrite: rows of one type form an island
    exactly when (global row_number − per-type row_number) is
    constant — two window passes over ONE user_id shuffle (same
    partition key, Spark plans a single exchange), then two small
    aggregations. No self-join, no iteration, scale-indifferent."""
    ev = load(spark, "events", sf_dir)
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    island = F.row_number().over(w_all) - F.row_number().over(w_typ)
    streaks = (
        ev.select(
            "user_id", "event_type", island.alias("island")
        )
        .groupBy("user_id", "event_type", "island")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return streaks.groupBy("user_id", "event_type").agg(
        F.max("streak_len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------- exponentially-decayed moving average ----------

_EMA_DEPTH = 8  # look-back; weight of lag k is 2^-k


def _ema_weight(k: int) -> float:
    return 1.0 / (1 << k)  # exactly representable (power of two)


def _sql_ema() -> str:
    num = " + ".join(
        f"COALESCE(LAG(value, {k}) OVER w * {_ema_weight(k)!r}, 0.0)"
        if k
        else "value * 1.0"
        for k in range(_EMA_DEPTH)
    )
    den = " + ".join(
        f"(CASE WHEN LAG(value, {k}) OVER w IS NOT NULL "
        f"THEN {_ema_weight(k)!r} ELSE 0.0 END)"
        if k
        else "1.0"
        for k in range(_EMA_DEPTH)
    )
    return (
        f"SELECT event_id, user_id, (({num}) / ({den})) AS ewma "
        "FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY event_id)"
    )


@register(
    "win_decay_ema",
    _sql_ema(),
    doc=f"per-user exponentially-decayed moving average over the last "
    f"{_EMA_DEPTH} events (weight 2^-k), bit-exact across engines",
)
def win_decay_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-horizon EMA as an explicit weighted lag sum.

    Bit-exact WITHOUT quantization or rounding: every weight 2^-k is a
    power of two (value·2^-k only shifts the exponent — exact), and
    numerator/denominator are written as the same left-associated
    addition chain on both engines, so each intermediate is the
    correctly-rounded sum of identical operands. One final division.

    Scale: a single window function pass — one shuffle on user_id,
    running state of 8 values per partition stream. The classic
    recursive EMA (α·x + (1−α)·prev) needs a sequential scan per key;
    this windowed form is the order-parallel equivalent a cluster
    wants.
    """
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    num = F.col("value") * F.lit(1.0)
    den = F.lit(1.0)
    for k in range(1, _EMA_DEPTH):
        lagk = F.lag("value", k).over(w)
        num = num + F.coalesce(lagk * F.lit(_ema_weight(k)), F.lit(0.0))
        den = den + F.when(lagk.isNotNull(), F.lit(_ema_weight(k))).otherwise(
            F.lit(0.0)
        )
    return ev.select("event_id", "user_id", (num / den).alias("ewma"))


@register(
    "win_interp_linear",
    "WITH e AS (SELECT event_id, user_id, "
    f"epoch_us({EVENTS_TS_SQL}) AS ts_us, "
    "CASE WHEN event_type <> 'click' THEN value END AS raw_value "
    "FROM events), b AS ("
    "SELECT event_id, user_id, ts_us, raw_value, "
    "last_value(raw_value IGNORE NULLS) OVER wp AS prev_val, "
    "last_value(CASE WHEN raw_value IS NOT NULL THEN ts_us END "
    "  IGNORE NULLS) OVER wp AS prev_ts, "
    "first_value(raw_value IGNORE NULLS) OVER wf AS next_val, "
    "first_value(CASE WHEN raw_value IS NOT NULL THEN ts_us END "
    "  IGNORE NULLS) OVER wf AS next_ts "
    "FROM e WINDOW "
    "wp AS (PARTITION BY user_id ORDER BY ts_us, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
    "wf AS (PARTITION BY user_id ORDER BY ts_us, event_id "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
    "SELECT event_id, user_id, raw_value, "
    "CASE WHEN raw_value IS NOT NULL THEN raw_value "
    "WHEN prev_val IS NULL THEN next_val "
    "WHEN next_val IS NULL THEN prev_val "
    "WHEN next_ts = prev_ts THEN prev_val "
    "ELSE prev_val + (next_val - prev_val) * "
    "(CAST(ts_us - prev_ts AS DOUBLE) / CAST(next_ts - prev_ts AS DOUBLE)) "
    "END AS interp_value FROM b",
    doc="per-key time-weighted linear interpolation of missing values "
    "(bracketing non-null neighbors + integer-µs lever arm) — the "
    "interpolating upgrade of win_fill_forward's LOCF",
)
def win_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill: a null takes
    ``prev + (next − prev) · (t − t_prev)/(t_next − t_prev)`` from its
    bracketing non-null neighbors in event time; boundary nulls fall
    back to the single available side (→ LOCF/NOCB at the edges).

    Determinism without quantization: the lever arm is a ratio of
    integer microsecond differences (exact int64 → exact double, both
    < 2^53), and the remaining subtract/divide/multiply/add are single
    correctly-rounded IEEE ops — identical bits on both engines, the
    same argument as ``win_decay_ema``.

    Scale: both window frames (running and reverse-running) hash the
    SAME partition key, so Spark plans ONE shuffle on user_id and two
    in-partition sorted passes; state per key is one (value, ts) pair
    per direction. No whole-partition buffering, no Python.
    """
    ev = load(spark, "events", sf_dir)
    raw = F.when(F.col("event_type") != "click", F.col("value"))
    us = F.unix_micros("ts")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked_ts = F.when(F.col("raw_value").isNotNull(), F.col("ts_us"))
    b = ev.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        raw.alias("raw_value"),
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "raw_value",
        F.last("raw_value", ignorenulls=True).over(wp).alias("prev_val"),
        F.last(marked_ts, ignorenulls=True).over(wp).alias("prev_ts"),
        F.first("raw_value", ignorenulls=True).over(wf).alias("next_val"),
        F.first(marked_ts, ignorenulls=True).over(wf).alias("next_ts"),
    )
    lever = (F.col("ts_us") - F.col("prev_ts")).cast("double") / (
        F.col("next_ts") - F.col("prev_ts")
    ).cast("double")
    interp = (
        F.when(F.col("raw_value").isNotNull(), F.col("raw_value"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .when(F.col("next_ts") == F.col("prev_ts"), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val")) * lever
        )
    )
    return b.select(
        "event_id", "user_id", "raw_value", interp.alias("interp_value")
    )


# ---------- LTTB-style visual downsampling ----------

_LTTB_BUCKET_US = 6 * 3600 * 1000000  # 6-hour buckets


@register(
    "ts_downsample_lttb",
    f"""
    WITH pts AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) AS x,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS yq,
             epoch_us({EVENTS_TS_SQL}) // {_LTTB_BUCKET_US} AS bkt
      FROM events
    ),
    anchors AS (
      SELECT event_type, bkt,
             SUM(x) // COUNT(*) AS ax,
             SUM(yq) // COUNT(*) AS ayq
      FROM pts GROUP BY event_type, bkt
    ),
    ranked AS (
      SELECT p.event_type, p.bkt, p.x, p.yq,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_type, p.bkt
               ORDER BY ABS(
                 (CAST(ap.ax AS HUGEINT) - an.ax) * (p.yq - ap.ayq)
                 - (CAST(ap.ax AS HUGEINT) - p.x) * (an.ayq - ap.ayq)
               ) DESC, p.x
             ) AS rn
      FROM pts p
      JOIN anchors ap ON ap.event_type = p.event_type
                     AND ap.bkt = p.bkt - 1
      JOIN anchors an ON an.event_type = p.event_type
                     AND an.bkt = p.bkt + 1
    )
    SELECT event_type, CAST(bkt AS BIGINT) AS bkt, CAST(x AS BIGINT) AS ts_us,
           CAST(CAST(yq AS VARCHAR) AS DOUBLE) / 1000000.0 AS value
    FROM ranked WHERE rn = 1
    """,
    doc="LTTB-style visual downsampling: per (event_type, 6h bucket) "
    "keep the point with the largest triangle area against the "
    "neighbor-bucket mean anchors — exact integer/decimal area, "
    "deterministic ties; the parallel bucketed variant of "
    "largest-triangle-three-buckets",
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample each event-type series to one visually-dominant
    point per 6-hour bucket. Classic LTTB anchors each bucket's
    triangle on the *previously selected* point — inherently
    sequential — so this uses the parallel variant: anchors are the
    neighbor buckets' mean points (floor-div integer means), making
    every bucket independent. Area = |(ax_p−ax_n)(y−ay_p) −
    (ax_p−x)(ay_n−ay_p)| computed in exact decimal integer
    arithmetic (µs × quantized value exceeds int64), so the argmax —
    and therefore the output — is bit-identical across engines;
    ties break to the earlier point.

    First/last buckets (no neighbor anchor) are dropped: a real
    renderer pins the series endpoints separately, exactly as LTTB
    always keeps the first and last raw points.

    Scale: one groupBy for anchors (map-side combined), broadcast-
    sized anchor table joined back, ONE window shuffle on
    (event_type, bucket) — partitions are bucket-sized, never
    series-sized, so a year-long series parallelizes across its
    buckets. Output is |buckets| rows: the 100× raw→render reduction
    happens before any collect.
    """
    ev = load(spark, "events", sf_dir)
    pts = ev.select(
        "event_type",
        F.unix_micros("ts").alias("x"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("yq"),
        F.expr(f"unix_micros(ts) div {_LTTB_BUCKET_US}").alias("bkt"),
    )
    anchors = pts.groupBy("event_type", "bkt").agg(
        F.expr("sum(x) div count(*)").alias("ax"),
        F.expr(
            "cast(sum(yq) as decimal(38,0)) div count(*)"
        ).alias("ayq"),
    )
    ap = anchors.select(
        "event_type",
        (F.col("bkt") + 1).alias("bkt"),
        F.col("ax").alias("apx"),
        F.col("ayq").alias("apy"),
    )
    an = anchors.select(
        "event_type",
        (F.col("bkt") - 1).alias("bkt"),
        F.col("ax").alias("anx"),
        F.col("ayq").alias("any_"),
    )
    d = F.col  # noqa: E741 - brevity
    area = F.abs(
        (d("apx").cast("decimal(38,0)") - d("anx"))
        * (d("yq") - d("apy"))
        - (d("apx").cast("decimal(38,0)") - d("x"))
        * (d("any_") - d("apy"))
    )
    w = Window.partitionBy("event_type", "bkt").orderBy(
        area.desc(), F.col("x")
    )
    ranked = (
        pts.join(ap, ["event_type", "bkt"])
        .join(an, ["event_type", "bkt"])
        .withColumn("rn", F.row_number().over(w))
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("bkt").cast("long").alias("bkt"),
        F.col("x").cast("long").alias("ts_us"),
        (F.col("yq").cast("string").cast("double") / F.lit(1e6)).alias(
            "value"
        ),
    )


# ---------- CUSUM changepoint detection ----------

_CUSUM_BUCKET_US = 3600 * 1000000  # hourly series
_CUSUM_TH = 2000.0  # drift alarm on the normalized statistic


@register(
    "win_cusum_changepoint",
    f"""
    WITH series AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // {_CUSUM_BUCKET_US} AS bkt,
             SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT)) AS xq
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n, SUM(xq) AS s
      FROM series GROUP BY event_type
    ),
    cum AS (
      SELECT se.event_type, se.bkt, st.n,
             st.n * SUM(se.xq) OVER w
               - ROW_NUMBER() OVER w * st.s AS c
      FROM series se JOIN stats st ON st.event_type = se.event_type
      WINDOW w AS (PARTITION BY se.event_type ORDER BY se.bkt
                   ROWS UNBOUNDED PRECEDING)
    ),
    cusum AS (
      SELECT event_type, bkt,
             c - LEAST(MIN(c) OVER (PARTITION BY event_type ORDER BY bkt
                              ROWS UNBOUNDED PRECEDING), 0) AS s_t, n
      FROM cum
    ),
    peak AS (
      SELECT event_type, bkt, s_t, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s_t DESC, bkt) AS rn
      FROM cusum
    )
    SELECT event_type, CAST(bkt AS BIGINT) AS peak_bkt,
           FLOOR(CAST(CAST(s_t AS VARCHAR) AS DOUBLE)
                 / (CAST(CAST(n AS VARCHAR) AS DOUBLE) * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0
             AS peak_cusum,
           CAST(CAST(s_t AS VARCHAR) AS DOUBLE)
             / (CAST(CAST(n AS VARCHAR) AS DOUBLE) * 1000000.0)
             > {_CUSUM_TH} AS drifted
    FROM peak WHERE rn = 1
    """,
    doc="CUSUM changepoint detection per event-type series: positive-"
    "drift statistic S_t = C_t − min prefix C over the mean-centered "
    "hourly series, computed in exact integer arithmetic (deviations "
    "scaled ×n to avoid the mean division); reports each series' peak "
    "excursion + alarm flag",
)
def win_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift detection without a sequential scan: the CUSUM recurrence
    S_t = max(0, S_{t-1} + d_t) equals C_t − min_{j≤t} C_j where C is
    the prefix sum of deviations — two window passes (cumsum +
    running-min) replace the sequential loop, so the operator
    parallelizes like any window aggregate.

    Deviations are mean-centered WITHOUT dividing: d_t·n = n·x_t − Σx
    keeps everything integer-exact (decimal), and the single float
    division happens once at the end (÷ n·1e6), correctly rounded
    identically in both engines.

    Scale: the hourly pre-aggregation is map-side combined (series
    length ≪ events); one window shuffle on event_type. For
    high-cardinality keys the same plan shuffles once on the key —
    each series is processed within its partition.
    """
    ev = load(spark, "events", sf_dir)
    series = ev.groupBy(
        "event_type",
        F.expr(f"unix_micros(ts) div {_CUSUM_BUCKET_US}").alias("bkt"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).alias("xq")
    )
    stats = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum("xq").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        series.join(F.broadcast(stats), "event_type")
        .withColumn(
            "c",
            F.col("n") * F.sum("xq").over(w)
            - F.row_number()
            .over(Window.partitionBy("event_type").orderBy("bkt"))
            .cast("decimal(20,0)")
            * F.col("s"),
        )
    )
    cusum = cum.withColumn(
        "s_t",
        F.col("c")
        - F.least(
            F.min("c").over(w), F.lit(0).cast("decimal(38,0)")
        ),
    )
    peak = cusum.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("s_t").desc(), F.col("bkt")
            )
        ),
    ).filter(F.col("rn") == 1)
    norm = F.col("s_t").cast("string").cast("double") / (
        F.col("n").cast("string").cast("double") * F.lit(1e6)
    )
    return peak.select(
        "event_type",
        F.col("bkt").cast("long").alias("peak_bkt"),
        dround(norm, 6).alias("peak_cusum"),
        (norm > F.lit(_CUSUM_TH)).alias("drifted"),
    )


# ---------- multi-touch attribution ----------

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1000000  # 7-day lookback


@register(
    "win_attribution_multitouch",
    f"""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id,
             epoch_us({EVENTS_TS_SQL}) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS touch_id, event_type,
             epoch_us({EVENTS_TS_SQL}) AS t_us
      FROM events WHERE event_type IN ('view', 'click')
    ),
    touches AS (
      SELECT p.purchase_id, t.event_type, t.touch_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY t.t_us, t.touch_id) AS pos,
             COUNT(*) OVER (PARTITION BY p.purchase_id) AS n
      FROM p JOIN t ON t.user_id = p.user_id
       AND t.t_us < p.p_us AND t.t_us >= p.p_us - {_ATTR_WINDOW_US}
    ),
    credited AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 THEN 500000
                  WHEN pos = 1 OR pos = n THEN 400000
                  ELSE 200000 // (n - 2) END AS credit_ppm
      FROM touches
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit_ppm) AS DOUBLE) / 1000000.0 AS total_credit
    FROM credited GROUP BY event_type
    """,
    doc="U-shaped multi-touch attribution: each purchase credits its "
    "7-day touchpoint path 40/20/40 (first / evenly-split middles / "
    "last) — per-channel credit totals; band join + one ranking "
    "window, deterministic float shares",
)
def win_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) attribution. Touch position and path
    length come from one window over the band-joined (purchase ×
    prior-7d-touch) pairs; credit shares are exact integer ppm (the
    middle positions floor-divide the 20% pot), so the per-channel
    totals are integer sums — engine- and order-agnostic by
    construction, one float division at the very end.

    Scale: the band join is user-equi + time-band (the
    ``stream_interval_join`` shape — state-bounded when streamed);
    the attribution window partitions by purchase_id, whose fan-in is
    bounded by a user's 7-day touch volume, not corpus size. Credit
    aggregation is map-side combined.
    """
    ev = load(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        "event_type",
        F.unix_micros("ts").alias("t_us"),
    )
    touches = p.join(
        t,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - F.lit(_ATTR_WINDOW_US)),
    )
    wp = Window.partitionBy("purchase_id")
    positioned = touches.select(
        "purchase_id",
        "event_type",
        F.row_number()
        .over(wp.orderBy("t_us", "touch_id"))
        .alias("pos"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    # credit in exact integer ppm (middles floor-divide the 20% pot:
    # the ≤(n−3) ppm remainder is dropped, deterministically) — the
    # SUM is integer arithmetic, immune to float summation order
    credit_ppm = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(400000),
        )
        .otherwise(F.expr("200000 div (n - 2)"))
    )
    return (
        positioned.select("event_type", credit_ppm.alias("credit_ppm"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            (F.sum("credit_ppm").cast("double") / F.lit(1e6)).alias(
                "total_credit"
            ),
        )
    )


# ---------- rolling median (robust smoothing) ----------

_MED_WIN = 7


@register(
    "win_rolling_median",
    "WITH e AS (SELECT event_id, user_id, "
    f"{EVENTS_TS_SQL} AS ts, "
    "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q "
    "FROM events), "
    "w AS (SELECT event_id, user_id, "
    "COUNT(*) OVER fr AS n_win, "
    "list_sort(array_agg(q) OVER fr) AS qs "
    "FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id "
    f"ROWS BETWEEN {_MED_WIN - 1} PRECEDING AND CURRENT ROW)) "
    "SELECT event_id, user_id, CAST(n_win AS BIGINT) AS n_win, "
    "CAST(qs[CAST((n_win + 1) // 2 AS INTEGER)] AS DOUBLE) / 1000000.0 "
    "AS roll_median FROM w",
    doc=f"rolling median over the last {_MED_WIN} events per key — "
    "exact element-picking on the sorted quantized window (discrete "
    "lower median, no interpolation): the robust-smoothing twin of "
    "win_rolling_zscore, outlier-immune by construction",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust running smoother: median of the trailing window, by
    sorting the (bounded, ≤7-element) quantized frame array and
    picking rank ⌈n/2⌉ — a real element, so the result is exact and
    engine-agnostic with no interpolation arithmetic.

    Scale: one shuffle on the key; the frame array is O(window) per
    row — constant memory. For windows in the thousands prefer two
    heaps / an order-statistic sketch; at dashboard window sizes the
    sort-per-row is cache-local and codegen'd.
    """
    ev = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_MED_WIN - 1), Window.currentRow)
    )
    q = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    win = ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.array_sort(F.collect_list(q).over(w)).alias("qs"),
    )
    return win.select(
        "event_id",
        "user_id",
        F.col("n_win").cast("long").alias("n_win"),
        (
            F.element_at(
                "qs", ((F.col("n_win") + 1) / 2).cast("int")
            ).cast("double")
            / F.lit(1e6)
        ).alias("roll_median"),
    )


# ---------- error-recovery MTTR ----------


@register(
    "win_outage_mttr",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us({EVENTS_TS_SQL}) AS us
      FROM events
    ),
    marked AS (
      SELECT *,
             MIN(CASE WHEN event_type <> 'error' THEN us END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_ok_us
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(COUNT(next_ok_us) AS BIGINT) AS n_recovered,
           CAST(SUM(next_ok_us - us) AS BIGINT) AS total_downtime_us,
           CAST(SUM(next_ok_us - us) // COUNT(next_ok_us) AS DOUBLE)
             / 1000000.0 AS mttr_sec
    FROM marked WHERE event_type = 'error'
    GROUP BY user_id
    HAVING COUNT(next_ok_us) > 0
    """,
    doc="per-user mean-time-to-recovery: each error paired with the "
    "next non-error event via a forward-min window (exact integer "
    "µs), downtime totals + MTTR — the SRE/ops metric dual of "
    "win_gap_detect",
)
def win_outage_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTTR from an event log: for every error, recovery time = the
    next non-error event's timestamp (forward-min over a FOLLOWING
    frame — no self-join). Downtime sums are exact integer µs;
    the single division renders seconds at the end. Unrecovered
    trailing errors are counted but excluded from the mean.

    Scale: one shuffle on the key; the FOLLOWING-frame min is
    computed in the same window pass as any lead/lag. Map-side
    combine on the final per-user aggregate.
    """
    ev = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    marked = e.withColumn(
        "next_ok_us",
        F.min(
            F.when(F.col("event_type") != "error", F.col("us"))
        ).over(w),
    )
    errs = marked.filter(F.col("event_type") == "error")
    down = F.col("next_ok_us") - F.col("us")
    return (
        errs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_errors"),
            F.count("next_ok_us").cast("long").alias("n_recovered"),
            F.sum(down).cast("long").alias("total_downtime_us"),
            # µs floor-div FIRST (exact integer both engines), THEN
            # scale: sidesteps the round-at-6dp double tie trap that
            # flipped 3/1500 rows at sf0.1
            (
                F.expr("sum(next_ok_us - us) div count(next_ok_us)")
                .cast("double")
                / F.lit(1e6)
            ).alias("mttr_sec"),
        )
        .filter(F.col("n_recovered") > 0)
    )


# ---------- maximum drawdown ----------


@register(
    "win_max_drawdown",
    f"""
    WITH e AS (
      SELECT user_id, epoch_us({EVENTS_TS_SQL}) AS us, event_id,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS q
      FROM events
    ),
    st AS (
      SELECT user_id, CAST(COUNT(*) AS HUGEINT) AS n, SUM(q) AS s
      FROM e GROUP BY user_id
    ),
    cum AS (
      SELECT e.user_id, e.us, e.event_id,
             SUM(st.n * e.q - st.s) OVER w AS c
      FROM e JOIN st ON st.user_id = e.user_id
      WINDOW w AS (PARTITION BY e.user_id ORDER BY e.us, e.event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    dd AS (
      SELECT user_id, us,
             MAX(c) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) - c AS draw
      FROM cum
    ),
    best AS (
      SELECT d.user_id, d.us, d.draw, st.n,
             ROW_NUMBER() OVER (PARTITION BY d.user_id
                                ORDER BY d.draw DESC, d.us) AS rn
      FROM dd d JOIN st ON st.user_id = d.user_id
    )
    SELECT user_id,
           FLOOR(CAST(CAST(draw AS VARCHAR) AS DOUBLE)
                 / (CAST(CAST(n AS VARCHAR) AS DOUBLE) * 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0
             AS max_drawdown,
           CAST(us AS BIGINT) AS trough_us
    FROM best WHERE rn = 1 AND draw > 0
    """,
    doc="per-user maximum drawdown of the mean-centered cumulative "
    "value series: running-peak minus running-sum, argmax — the "
    "worst sustained below-trend slump (CUSUM's mirror image), "
    "deviations scaled ×n so everything is integer-exact",
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown = max over t of (max_{j≤t} C_j − C_t) where C is
    the prefix sum of MEAN-CENTERED values (raw event values are
    non-negative, so the raw cumsum never declines; centering makes
    the metric the worst below-trend run — the sustained-slump dual
    of ``win_cusum_changepoint``'s rise). Deviations are scaled ×n
    (n·x − Σx) to stay integer-exact; the final division normalizes.

    Scale: one map-side-combined stats pass broadcast back, one
    window shuffle on the key — both windows stream the same frame.
    """
    ev = load(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    st = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
        F.sum("q").alias("s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = e.join(F.broadcast(st), "user_id").withColumn(
        "c", F.sum(F.col("n") * F.col("q") - F.col("s")).over(w)
    )
    dd = cum.select(
        "user_id",
        "us",
        "n",
        (F.max("c").over(w) - F.col("c")).alias("draw"),
    )
    best = dd.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("draw").desc(), F.col("us")
            )
        ),
    ).filter((F.col("rn") == 1) & (F.col("draw") > 0))
    return best.select(
        "user_id",
        dround(
            F.col("draw").cast("string").cast("double")
            / (F.col("n").cast("string").cast("double") * F.lit(1e6)),
            6,
        ).alias("max_drawdown"),
        F.col("us").cast("long").alias("trough_us"),
    )


# ---------- lag-1 autocorrelation ----------


@register(
    "win_autocorr_lag1",
    f"""
    WITH series AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // 3600000000 AS x,
             SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT)) AS yq
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, yq,
             LAG(yq) OVER (PARTITION BY event_type ORDER BY x) AS yp
      FROM series
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(yp) AS HUGEINT) AS n,
             SUM(CASE WHEN yp IS NOT NULL THEN yq END) AS sy,
             SUM(yp) AS sp,
             SUM(yq * yp) AS syp,
             SUM(CASE WHEN yp IS NOT NULL THEN yq * yq END) AS syy,
             SUM(yp * yp) AS spp
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           ROUND(
             CAST(CAST(n * syp - sy * sp AS VARCHAR) AS DOUBLE)
             / SQRT(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(n * spp - sp * sp AS VARCHAR) AS DOUBLE)),
             6) AS acf1
    FROM m WHERE n > 1 AND (n * syy - sy * sy) > 0 AND (n * spp - sp * sp) > 0
    """,
    doc="lag-1 autocorrelation per event-type hourly series: Pearson "
    "corr of (y_t, y_{t−1}) from exact integer moment sums "
    "(n·Σxy − ΣxΣy pattern) — the seasonality/persistence "
    "diagnostic, cancellation-free",
)
def win_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serial correlation of consecutive hourly totals — the quick
    answer to 'is this series momentum or noise?'. One lag window
    pairs each bucket with its predecessor; all five moment sums are
    exact decimal integers (the ``agg_corr`` machinery applied to a
    self-lagged series), the correlation is two string-cast
    divisions and a sqrt at the end.

    Scale: the hourly pre-aggregation is map-side combined; one
    window shuffle on the series key; the moment aggregate is
    map-side combined again. Degenerate (constant) series drop out
    via the positive-variance guards.
    """
    ev = load(spark, "events", sf_dir)
    series = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("x"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        ).alias("yq")
    )
    w = Window.partitionBy("event_type").orderBy("x")
    lagged = series.withColumn("yp", F.lag("yq").over(w))
    has = F.col("yp").isNotNull()
    m = lagged.groupBy("event_type").agg(
        F.count("yp").cast("decimal(20,0)").alias("n"),
        F.sum(F.when(has, F.col("yq"))).alias("sy"),
        F.sum("yp").alias("sp"),
        F.sum(F.col("yq") * F.col("yp")).alias("syp"),
        F.sum(F.when(has, F.col("yq") * F.col("yq"))).alias("syy"),
        F.sum(F.col("yp") * F.col("yp")).alias("spp"),
    )
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    vp = F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")
    cov = F.col("n") * F.col("syp") - F.col("sy") * F.col("sp")
    return (
        m.filter((F.col("n") > 1) & (vy > 0) & (vp > 0))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_pairs"),
            F.round(
                dec_to_double(cov) / F.sqrt(dec_to_double(vy) * dec_to_double(vp)), 6
            ).alias("acf1"),
        )
    )


# ---------- event-path transition matrix ----------


@register(
    "win_markov_transitions",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY {EVENTS_TS_SQL}, event_id)
               AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    ),
    r AS (SELECT prev_type, SUM(n) AS rt FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.n,
           FLOOR(CAST(t.n AS DOUBLE) / r.rt * 1000000.0 + 0.5)
             / 1000000.0 AS p
    FROM t JOIN r ON r.prev_type = t.prev_type
    """,
    doc="per-user event-path Markov transition matrix: lag-paired "
    "consecutive event types, counts row-normalized to transition "
    "probabilities — the user-journey flow map (sankey/funnel input)",
)
def win_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order journey model: P(next | prev) over each user's
    time-ordered event stream. Counts are exact; each probability is
    one division of exact integers (identical bits both engines).

    Scale: one shuffle on the key for the lag window, then a
    |types|²-sized aggregation — map-side combined, output is
    dashboard-sized regardless of event volume.
    """
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = t.groupBy("prev_type").agg(F.sum("n").alias("rt"))
    return t.join(F.broadcast(r), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        dround(F.col("n").cast("double") / F.col("rt"), 6).alias("p"),
    )


@register(
    "win_sliding_distinct",
    f"""
    WITH a AS (SELECT DISTINCT date_trunc('day', {EVENTS_TS_SQL}) AS day,
                               user_id
               FROM events),
    days AS (SELECT DISTINCT day FROM a),
    sc AS (SELECT a.day + INTERVAL (i.x) DAY AS report_day, a.user_id
           FROM a, range(7) i(x)),
    w AS (SELECT d.day, COUNT(DISTINCT s.user_id) AS wau7
          FROM days d JOIN sc s ON s.report_day = d.day GROUP BY d.day),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM a GROUP BY day)
    SELECT d.day, dau.dau, w.wau7,
           CAST(dau.dau AS DOUBLE) / CAST(w.wau7 AS DOUBLE) AS stickiness
    FROM days d JOIN dau ON dau.day = d.day JOIN w ON w.day = d.day
    """,
    doc="sliding DISTINCT count (trailing-7-day active users per day) "
    "via the scatter trick — the windowed distinct no window function "
    "can express; plus DAU/WAU stickiness ratio",
)
def win_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window distinct counts (WAU per day). COUNT(DISTINCT)
    OVER a moving frame is not supported by any engine's window
    functions and naive per-day re-scans are O(days·corpus); the
    scale shape is scatter: collapse to distinct (day, user) once,
    then each activity day votes into the ≤7 report days it can serve
    (a ×7 row scatter on the ALREADY-COLLAPSED frame), and a two-stage
    partial-distinct aggregate counts per report day. Report days are
    restricted to observed days, so trailing windows never invent
    days. Stickiness = DAU/WAU is the standard engagement ratio —
    one division of exact integers.

    Scale: the corpus touches one groupBy to (day, user); everything
    after runs on |days|·|users_active| rows. At 100 TB the distinct
    step is served from daily-partitioned parquet with partial
    aggregation per partition — no shuffle carries raw events.
    """
    ev = load(spark, "events", sf_dir)
    a = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = a.select("day").distinct()
    sc = a.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
        "user_id",
    ).select(
        (F.col("day") + F.make_interval(days=F.col("i"))).alias(
            "report_day"
        ),
        "user_id",
    )
    w = (
        days.join(sc, days.day == sc.report_day)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau7"))
    )
    dau = a.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        days.join(dau, "day")
        .join(w, "day")
        .select(
            "day",
            "dau",
            "wau7",
            (F.col("dau").cast("double") / F.col("wau7").cast("double")).alias(
                "stickiness"
            ),
        )
    )


@register(
    "ts_regularize",
    f"""
    WITH {ERA5_CTE},
    obs AS (SELECT latitude, longitude,
              date_trunc('hour', valid_time) AS h,
              MIN_BY(t2m, event_id) AS t2m
            FROM era5 GROUP BY 1, 2, 3),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM obs),
    cells AS (SELECT DISTINCT latitude, longitude FROM obs),
    spine AS (SELECT c.latitude, c.longitude, s.h
              FROM cells c, bounds b,
                   LATERAL (SELECT unnest(generate_series(b.h0, b.h1,
                            INTERVAL 1 HOUR)) AS h) s),
    j AS (SELECT sp.latitude, sp.longitude, sp.h,
            o.t2m AS t2m_obs
          FROM spine sp LEFT JOIN obs o
            ON o.latitude = sp.latitude AND o.longitude = sp.longitude
           AND o.h = sp.h)
    SELECT latitude, longitude, h,
           LAST_VALUE(t2m_obs IGNORE NULLS) OVER (
             PARTITION BY latitude, longitude ORDER BY h
             ROWS UNBOUNDED PRECEDING) AS t2m_filled,
           (t2m_obs IS NULL) AS is_filled
    FROM j
    """,
    doc="time-spine regularization: complete hourly grid per cell "
    "(sequence spine × cells, left join, forward-fill) — the xarray "
    "reindex(...).ffill() pattern as relational ops",
)
def ts_regularize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample an irregular observation stream onto a complete hourly
    spine: xarray's ``reindex(time=hourly).ffill('time')``, the step
    the reference runs implicitly by selecting on a regular ERA5 time
    axis, expressed as relational operators — generate the spine
    (bounded by calendar, not data), left-join observations, and
    forward-fill per cell. Filled rows keep an ``is_filled`` flag so
    downstream aggregates can weight or exclude imputed values (the
    honest version of silent ffill). Forward-fill COPIES values — no
    new float arithmetic — so both engines agree bit-for-bit.

    Scale: the spine is |cells|·|hours| rows built from two scalars +
    the distinct cell set (metadata scale); observations join on
    (cell, hour) keys — at 100 TB a date-partitioned layout prunes
    both sides to matching partitions, and the ffill window is one
    range-partition shuffle on the cell key. Gap DETECTION (the
    reference's missing-rows report) is ``agg_missing_groups``;
    this is the repair step.
    """
    obs = (
        era5_events(spark, sf_dir)
        .select(
            "latitude",
            "longitude",
            F.date_trunc("hour", "valid_time").alias("h"),
            "t2m",
            "event_id",
        )
        .groupBy("latitude", "longitude", "h")
        .agg(F.min_by("t2m", "event_id").alias("t2m"))
    )
    bounds = obs.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    cells = obs.select("latitude", "longitude").distinct()
    spine = cells.crossJoin(F.broadcast(bounds)).select(
        "latitude",
        "longitude",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = spine.join(
        obs.withColumnRenamed("t2m", "t2m_obs"),
        ["latitude", "longitude", "h"],
        "left",
    )
    w = (
        Window.partitionBy("latitude", "longitude")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "latitude",
        "longitude",
        "h",
        F.last("t2m_obs", ignorenulls=True).over(w).alias("t2m_filled"),
        F.col("t2m_obs").isNull().alias("is_filled"),
    )


_RC_WIN = 24  # trailing rows per rolling-correlation frame


@register(
    "win_rolling_corr",
    f"""
    WITH b AS (SELECT event_id, event_type, {EVENTS_TS_SQL} AS ts,
                 CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT) AS x,
                 CAST(hour({EVENTS_TS_SQL}) * 60
                      + minute({EVENTS_TS_SQL}) AS BIGINT) AS y
               FROM events),
    w AS (SELECT event_id, event_type, ts,
            COUNT(*) OVER tw AS n,
            SUM(x) OVER tw AS sx, SUM(y) OVER tw AS sy,
            SUM(x * y) OVER tw AS sxy,
            SUM(x * x) OVER tw AS sxx, SUM(y * y) OVER tw AS syy
          FROM b
          WINDOW tw AS (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN {_RC_WIN - 1} PRECEDING AND CURRENT ROW))
    SELECT event_id, event_type,
           CASE WHEN n = {_RC_WIN}
                 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN FLOOR(
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))
                  * 1000000.0 + 0.5) / 1000000.0
           END AS corr6
    FROM w
    """,
    doc=f"rolling {_RC_WIN}-row Pearson correlation (value vs minute-"
    "of-day) from exact integer window moments — the co-movement "
    "detector, cancellation-free and engine-identical",
)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling correlation between two per-row series over a trailing
    row frame. All five window sums run on exact integers (value
    quantized to 1e-3 — Pearson r is scale-invariant and the coarser
    quantum keeps n·Σx² inside int64; minute-of-day already
    integral), so the
    n·Σxy − ΣxΣy numerator and both variance terms are exact —
    the naive float rolling corr's cancellation problem cannot occur;
    the only floats are the final division/sqrt on identical operands
    (the big integers exceed 2^53, but the int→double cast is the
    same correctly-rounded value in both engines). Short or
    zero-variance frames emit null.

    Scale: one range-partition shuffle on the series key; the five
    sums share one window frame traversal. Spark evaluates bounded
    ROWS frames incrementally — O(1) per row, not O(window).
    """
    ev = load(spark, "events", sf_dir)
    b = ev.select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * 1e3 + 0.5).cast("long").alias("x"),
        (F.hour("ts") * 60 + F.minute("ts")).cast("long").alias("y"),
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_RC_WIN - 1), 0)
    )
    n = F.count(F.lit(1)).over(tw)
    sx = F.sum("x").over(tw)
    sy = F.sum("y").over(tw)
    sxy = F.sum(F.col("x") * F.col("y")).over(tw)
    sxx = F.sum(F.col("x") * F.col("x")).over(tw)
    syy = F.sum(F.col("y") * F.col("y")).over(tw)
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    corr = F.when(
        (n == _RC_WIN) & (vx > 0) & (vy > 0),
        F.floor(
            (n * sxy - sx * sy).cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return b.select("event_id", "event_type", corr.alias("corr6"))


_HAM_WIN = 9  # trailing rows per Hampel frame
_HAM_K = 3  # MAD multiplier


@register(
    "win_hampel_despike",
    "WITH e AS (SELECT event_id, user_id, "
    f"{EVENTS_TS_SQL} AS ts, "
    "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS q "
    "FROM events), "
    "w AS (SELECT event_id, user_id, q, "
    "COUNT(*) OVER fr AS n_win, "
    "list_sort(array_agg(q) OVER fr) AS qs "
    "FROM e WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id "
    f"ROWS BETWEEN {_HAM_WIN - 1} PRECEDING AND CURRENT ROW)), "
    "m AS (SELECT event_id, user_id, q, n_win, "
    "qs[CAST((n_win + 1) // 2 AS INTEGER)] AS med, "
    "list_sort(list_transform(qs, "
    "x -> abs(x - qs[CAST((n_win + 1) // 2 AS INTEGER)]))) AS devs "
    "FROM w) "
    "SELECT event_id, user_id, "
    "CAST(q AS DOUBLE) / 1000000.0 AS value6, "
    "CAST(med AS DOUBLE) / 1000000.0 AS roll_median, "
    "CAST(devs[CAST((n_win + 1) // 2 AS INTEGER)] AS DOUBLE) / 1000000.0 "
    "AS roll_mad, "
    f"(n_win = {_HAM_WIN} AND "
    f"abs(q - med) > {_HAM_K} * devs[CAST((n_win + 1) // 2 AS INTEGER)]) "
    "AS is_spike FROM m",
    doc=f"Hampel despiking filter: |x − rolling median| > {_HAM_K}·"
    "rolling MAD over the trailing 9-row frame — exact "
    "integer element-picking twice (median, then median of absolute "
    "deviations), the robust sensor-spike detector",
)
def win_hampel_despike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter — the standard despiking pass on sensor series
    (flux-tower QA pipelines run exactly this before gap-fill): flag
    x where |x − med(window)| > k·MAD(window). Both the median and the
    MAD are exact element picks on sorted quantized integers (sort the
    frame, pick ⌈n/2⌉; transform to absolute deviations, sort, pick
    again) and the spike test is a pure integer comparison — no float
    anywhere in the verdict, so both engines flag the identical rows.
    Rolling z-score (``win_rolling_zscore``) breaks down here: a spike
    inflates its own window's σ; the median/MAD pair doesn't.

    Scale: one shuffle on the key; per row the frame array is
    O(window) and both sorts are cache-local on ≤{_HAM_WIN} elements.
    Large windows → two-heap / order-statistic sketch, as
    ``win_rolling_median`` notes.
    """
    ev = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_HAM_WIN - 1), Window.currentRow)
    )
    q = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    win = ev.select(
        "event_id",
        "user_id",
        q.alias("q"),
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.array_sort(F.collect_list(q).over(w)).alias("qs"),
    )
    mid = ((F.col("n_win") + 1) / 2).cast("int")
    med = F.element_at("qs", mid)
    m = win.select(
        "event_id",
        "user_id",
        "q",
        "n_win",
        med.alias("med"),
        F.array_sort(
            F.transform("qs", lambda x: F.abs(x - med))
        ).alias("devs"),
    )
    mad = F.element_at("devs", mid)
    return m.select(
        "event_id",
        "user_id",
        (F.col("q").cast("double") / F.lit(1e6)).alias("value6"),
        (F.col("med").cast("double") / F.lit(1e6)).alias("roll_median"),
        (mad.cast("double") / F.lit(1e6)).alias("roll_mad"),
        (
            (F.col("n_win") == _HAM_WIN)
            & (F.abs(F.col("q") - F.col("med")) > F.lit(_HAM_K) * mad)
        ).alias("is_spike"),
    )


_RF_US = 3600 * 1000000  # 1-hour trailing range frame, microseconds


@register(
    "win_range_frame",
    f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us({EVENTS_TS_SQL}) AS us,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS vq
      FROM events
    )
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           (CAST(CAST(SUM(vq) OVER w AS VARCHAR) AS DOUBLE) / 1000000.0)
             AS sum_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN {_RF_US} PRECEDING AND CURRENT ROW)
    """,
    doc="time-interval window frame: per-user trailing-1h event count "
    "and quantized value sum via RANGE BETWEEN on integer microseconds "
    "— the value-based frame ROWS windows cannot express",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windows: the frame is bounded by ORDER-BY *value*
    distance (here: event-time within the trailing hour), not by row
    count — a different capability from every ROWS window in this
    module (a user with bursty traffic has a different number of rows
    inside each hour).

    The frame key is integer microseconds (``unix_micros``), so the
    range bound is exact in both engines and peer rows (equal
    timestamps) are handled identically by the SQL-standard RANGE
    rule: all peers enter the frame together — which also makes the
    result well-defined under timestamp ties, where a ROWS frame
    would be order-dependent. The windowed sum rides the quantized
    integer path (decimal/HUGEINT), so totals are bit-stable.

    Scale: one shuffle on user_id, one ordered pass per partition
    with a sliding two-pointer frame (Spark's WindowExec maintains
    the range frame incrementally — no per-row rescan). Skewed users
    are real at 100 TB: a hot key serializes one task, so cap with
    AQE skew handling or pre-split by (user_id, day) when the frame
    never crosses the split boundary... here the 1 h frame allows a
    (user, day)+carry-in split if needed.
    """
    ev = load(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_RF_US, 0)
    )
    vq = F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        (
            F.sum(vq).over(w).cast("string").cast("double") / 1000000.0
        ).alias("sum_1h"),
    )


_TSD_HALF = 12  # centered trend window: ±12 hours (25-point)


@register(
    "ts_decompose",
    f"""
    WITH hr AS (
      SELECT event_type,
             CAST(date_trunc('hour', {EVENTS_TS_SQL}) AS TIMESTAMP) AS hour_ts,
             CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT))
                  AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, hour_ts,
             CAST(FLOOR(CAST(CAST(sq AS VARCHAR) AS DOUBLE) / n + 0.5)
                  AS BIGINT) AS mq
      FROM hr
    ), tr AS (
      SELECT event_type, hour_ts, mq,
             (CAST(SUM(mq) OVER w AS DOUBLE) / COUNT(*) OVER w) AS trend_raw
      FROM m
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN {_TSD_HALF} PRECEDING
                   AND {_TSD_HALF} FOLLOWING)
    ), de AS (
      SELECT *, CAST(FLOOR(mq - trend_raw + 0.5) AS BIGINT) AS detr_q,
             CAST(hour(hour_ts) AS BIGINT) AS hod
      FROM tr
    ), se AS (
      SELECT *, (CAST(SUM(detr_q) OVER s AS DOUBLE)
                 / COUNT(*) OVER s) AS seas_raw
      FROM de
      WINDOW s AS (PARTITION BY event_type, hod)
    ), re AS (
      SELECT *, CAST(FLOOR(detr_q - seas_raw + 0.5) AS BIGINT) AS resid_q
      FROM se
    ), sig AS (
      SELECT *,
        (SUM(resid_q * resid_q) OVER p * CAST(COUNT(*) OVER p AS HUGEINT)
         - SUM(resid_q) OVER p * SUM(resid_q) OVER p) AS var_num,
        CAST(COUNT(*) OVER p AS DOUBLE) AS nn
      FROM re
      WINDOW p AS (PARTITION BY event_type)
    )
    SELECT event_type, hour_ts,
           CAST(mq AS DOUBLE) / 1000000.0 AS mean_val,
           FLOOR(trend_raw) / 1000000.0 AS trend,
           FLOOR(seas_raw) / 1000000.0 AS seasonal,
           CAST(resid_q AS DOUBLE) / 1000000.0 AS resid,
           COALESCE(CAST(resid_q AS DOUBLE) * CAST(resid_q AS DOUBLE)
                    * nn * nn
                    > 9.0 * CAST(CAST(var_num AS VARCHAR) AS DOUBLE),
                    FALSE) AS is_anom
    FROM sig
    """,
    doc="time-series decomposition (STL-lite): centered 25h rolling "
    "trend, hour-of-day seasonal profile of the detrended series, "
    "residual, and a 3-sigma anomaly flag — all on quantized integers",
)
def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each event-type's hourly
    mean series: x = trend + seasonal + residual.

    - Trend: centered ±12 h rolling mean (partial at series edges —
      deterministic, same rows both engines).
    - Seasonal: per hour-of-day mean of the detrended series.
    - Residual: what's left; flagged anomalous beyond 3 population
      sigmas (compared in the exact integer form
      resid²·n² > 9·(n·Σr² − (Σr)²) — no sqrt, no division).

    Exactness discipline: the hourly means are floor-quantized to
    integer micro-units BEFORE any window, every window sum is
    integer, and each stage's float output (a single division) is
    floor-quantized again before the next stage consumes it — so
    cross-engine float drift cannot compound through the three
    stages (the chi2/entropy per-term convention applied to a
    pipeline).

    Scale: stage 1 collapses the fact stream to |types|·|hours| rows
    (map-side combined); every window after that runs on the tiny
    series spine. The per-type anomaly sigma is a window over the
    same spine — nothing fact-sized is sorted.
    """
    ev = load(spark, "events", sf_dir)
    hr = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("string")
        .cast("double")
        .alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    m = hr.select(
        "event_type",
        "hour_ts",
        F.floor(F.col("sq") / F.col("n") + F.lit(0.5))
        .cast("long")
        .alias("mq"),
    )
    w_tr = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-_TSD_HALF, _TSD_HALF)
    )
    tr = m.withColumn(
        "trend_raw",
        F.sum("mq").over(w_tr).cast("double")
        / F.count(F.lit(1)).over(w_tr),
    )
    de = tr.withColumn(
        "detr_q",
        F.floor(F.col("mq") - F.col("trend_raw") + F.lit(0.5)).cast("long"),
    ).withColumn("hod", F.hour("hour_ts").cast("long"))
    w_se = Window.partitionBy("event_type", "hod")
    se = de.withColumn(
        "seas_raw",
        F.sum("detr_q").over(w_se).cast("double")
        / F.count(F.lit(1)).over(w_se),
    )
    re = se.withColumn(
        "resid_q",
        F.floor(F.col("detr_q") - F.col("seas_raw") + F.lit(0.5)).cast(
            "long"
        ),
    )
    w_p = Window.partitionBy("event_type")
    rq = F.col("resid_q").cast("decimal(19,0)")
    sig = re.withColumn(
        "var_num",
        (
            F.sum(rq * rq).over(w_p)
            * F.count(F.lit(1)).over(w_p).cast("decimal(20,0)")
            - F.sum(rq).over(w_p) * F.sum(rq).over(w_p)
        ),
    ).withColumn("nn", F.count(F.lit(1)).over(w_p).cast("double"))
    rd = F.col("resid_q").cast("double")
    return sig.select(
        "event_type",
        "hour_ts",
        (F.col("mq").cast("double") / 1000000.0).alias("mean_val"),
        (F.floor("trend_raw") / 1000000.0).alias("trend"),
        (F.floor("seas_raw") / 1000000.0).alias("seasonal"),
        (rd / 1000000.0).alias("resid"),
        F.coalesce(
            rd * rd * F.col("nn") * F.col("nn")
            > F.lit(9.0) * F.col("var_num").cast("string").cast("double"),
            F.lit(False),
        ).alias("is_anom"),
    )


@register(
    "win_year_over_year",
    f"""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
               AS month_ts,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS midx,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS HUGEINT))
                  AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2
    )
    SELECT month_ts,
           CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
           CAST(LAG(rev_c, 12) OVER (ORDER BY midx) AS DOUBLE) / 100.0
             AS revenue_prior_year,
           CAST(CASE WHEN LAG(rev_c, 12) OVER (ORDER BY midx) IS NOT NULL
                THEN (rev_c - LAG(rev_c, 12) OVER (ORDER BY midx)) * 10000
                     // LAG(rev_c, 12) OVER (ORDER BY midx) END AS BIGINT)
             AS yoy_bps
    FROM m
    """,
    doc="year-over-year monthly revenue comparison: lag-12 on the "
    "month spine with integer-bps growth — the period-over-period "
    "report shape",
)
def win_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period comparison: monthly revenue vs the same
    month a year earlier, growth in integer basis points. The lag key
    is a LINEAR month index (year·12 + month) so a 12-row lag is
    exactly one calendar year regardless of the spine's density —
    lagging on timestamps breaks the moment a month is missing;
    production fills the spine first (``ts_regularize`` pattern) or
    joins on midx−12, which is what the linear index makes cheap.

    Revenue aggregates as exact integer cents through the monthly
    rollup and the lag; the only float is the final /100 presentation
    cast, and growth is an integer ratio in bps (`div` on exact
    cents — never a float division truncated back to integer, whose
    rounding can land on the wrong side of a boundary).

    Scale: the fact stream collapses to the month spine in one
    map-side-combined pass; the lag window runs on |months| rows.
    """
    o = load(spark, "orders", sf_dir)
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month_ts"),
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate")
        ).cast("long").alias("midx"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("long")
        .alias("rev_c")
    )
    w = Window.partitionBy(one_part("midx")).orderBy("midx")
    prior = F.lag("rev_c", 12).over(w)
    lag_sql = ("lag(rev_c, 12) over (partition by "
               "coalesce(cast(midx as bigint), 0) % 1 order by midx)")
    return m.select(
        "month_ts",
        (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
        (prior.cast("double") / 100.0).alias("revenue_prior_year"),
        F.expr(
            f"case when {lag_sql} is not null then "
            f"cast((rev_c - {lag_sql}) * 10000 div {lag_sql} as bigint) end"
        ).alias("yoy_bps"),
    )


@register(
    "agg_interarrival_cv",
    f"""
    WITH e AS (
      SELECT event_type, event_id, epoch_us({EVENTS_TS_SQL}) AS us
      FROM events
    ), gaps AS (
      SELECT event_type,
             us - LAG(us) OVER (PARTITION BY event_type
               ORDER BY us, event_id) AS gap
      FROM e
    ), g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(gap AS HUGEINT)) AS s1,
             SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS s2
      FROM g GROUP BY event_type
    )
    SELECT event_type, n,
           (FLOOR((CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n / 1000000.0)
              * 1000000.0 + 0.5) / 1000000.0) AS mean_gap_s,
           (FLOOR((CAST(CAST(s2 * CAST(n AS HUGEINT) - s1 * s1
                    AS VARCHAR) AS DOUBLE)
                   / (CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)))
                  * 1000000.0 + 0.5) / 1000000.0) AS cv_squared
    FROM m
    """,
    doc="inter-arrival burstiness per event type: mean gap and "
    "CV² = n·Σg²/Σg² − ... from exact integer-µs moments — CV²≈1 is "
    "Poisson, >1 bursty, <1 regular (the point-process fingerprint)",
)
def agg_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-process characterization: the squared coefficient of
    variation of inter-arrival gaps — CV² = Var/Mean² = (n·Σg² −
    (Σg)²)/(Σg)². A Poisson stream gives CV² ≈ 1; retries, batch
    flushes, and bot bursts push it above; schedulers push it below.
    The number that tells capacity planning whether mean rate is a
    usable sizing input (bursty streams need peak provisioning —
    read with ``agg_peak_concurrency``).

    Gaps are exact integer µs from a lag over the (us, event_id)
    total order; both moment sums are exact integers (HUGEINT /
    decimal), so CV² is one division of identical exact values —
    the ``dvar_pop`` integer-numerator pattern applied to a derived
    series. Outputs floor-quantized at 1e-6.

    Scale: one shuffle on event_type for the lag window (the series
    partitioning), then map-side-combined moment sums — per-type
    state is three integers.
    """
    ev = load(spark, "events", sf_dir).select(
        "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    g = ev.withColumn("gap", F.col("us") - F.lag("us").over(w)).filter(
        F.col("gap").isNotNull()
    )
    gd = F.col("gap").cast("decimal(38,0)")
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(gd).alias("s1"),
        F.sum(gd * gd).alias("s2"),
    )
    s1d = F.col("s1").cast("string").cast("double")
    num = (
        F.col("s2") * F.col("n").cast("decimal(38,0)")
        - F.col("s1") * F.col("s1")
    ).cast("string").cast("double")
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        dround(s1d / F.col("n") / 1000000.0).alias("mean_gap_s"),
        dround(num / (s1d * s1d)).alias("cv_squared"),
    )


_ACF_LAGS = (1, 2, 3, 6, 12, 24)


@register(
    "agg_acf_lags",
    f"""
    WITH hr AS (
      SELECT event_type,
             epoch_us(CAST(date_trunc('hour', {EVENTS_TS_SQL})
               AS TIMESTAMP)) // 3600000000 AS h,
             CAST(FLOOR((CAST(CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5)
               AS HUGEINT)) AS VARCHAR) AS DOUBLE) / COUNT(*)) + 0.5)
               AS BIGINT) AS mq
      FROM events GROUP BY 1, 2
    ), lags(k) AS (VALUES {", ".join(f"({k})" for k in _ACF_LAGS)}),
    pairs AS (
      SELECT a.event_type, l.k,
             CAST(a.mq AS HUGEINT) AS x, CAST(b.mq AS HUGEINT) AS y
      FROM hr a
      CROSS JOIN lags l
      JOIN hr b ON b.event_type = a.event_type AND b.h = a.h + l.k
    ), m AS (
      SELECT event_type, k, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY event_type, k
    )
    SELECT event_type, CAST(k AS BIGINT) AS lag_hours,
           CAST(n AS BIGINT) AS n_pairs,
           (FLOOR((CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
              / SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
              * 1000000.0 + 0.5) / 1000000.0) AS acf
    FROM m WHERE n > 1
    """,
    doc=f"autocorrelation function of the hourly mean series at lags "
    f"{_ACF_LAGS}: exact-integer-moment Pearson of the series against "
    "its shifted self — a peak at lag 24 is the daily-cycle detector",
)
def agg_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACF — time-series analysis's periodicity diagnostic: the
    correlation of the hourly series with itself shifted by k hours,
    for a lag set covering short-range persistence (1-3h) and the
    diurnal cycle (24h). A spike at 24 confirms daily seasonality
    (what ``ts_decompose`` then removes); slow decay flags
    non-stationarity before anyone fits a model.

    Pipeline: the fact stream collapses to per-(type, hour) quantized
    integer means (one map-side-combined pass, the ``ts_decompose``
    stage-1 convention), lagged pairs come from an equi-join of the
    spine against itself on (type, h+k) — an exact join, no window
    sort — and each lag's Pearson uses the cancellation-free integer
    moment form (``agg_corr`` pattern). Output floor-quantized 1e-6.

    Scale: the quadratic-looking part is spine×lags (|types|·|hours|·
    |lags| rows), not facts; moment sums combine map-side per
    (type, lag).
    """
    ev = load(spark, "events", sf_dir)
    hr = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
            "h"
        ),
    ).agg(
        F.floor(
            F.sum(
                F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mq")
    )
    lags = F.broadcast(
        literal_df(ev.sparkSession, [(k,) for k in _ACF_LAGS], "k int")
    )
    a = hr.select(
        "event_type", "h", F.col("mq").cast("decimal(38,0)").alias("x")
    ).crossJoin(lags)
    b = F.broadcast(
        hr.select(
            F.col("event_type").alias("b_et"),
            F.col("h").alias("b_h"),
            F.col("mq").cast("decimal(38,0)").alias("y"),
        )
    )  # spine is calendar-bounded (types × hours) — broadcast, not SMJ
    pairs = a.join(
        b,
        (F.col("b_et") == F.col("event_type"))
        & (F.col("b_h") == F.col("h") + F.col("k")),
    )
    m = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = dec_to_double(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = F.sqrt(
        dec_to_double(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * dec_to_double(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.filter(F.col("n") > 1).select(
        "event_type",
        F.col("k").cast("long").alias("lag_hours"),
        F.col("n").cast("long").alias("n_pairs"),
        (F.floor((num / den) * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "acf"
        ),
    )


def _seasonal_strength_oracle() -> str:
    from cs_pipeline_spark.registry import _REGISTRY

    base = _REGISTRY["ts_decompose"].oracle
    return f"""
    WITH comp AS (
      SELECT event_type,
             CAST(FLOOR(resid * 1000000.0 + 0.5) AS BIGINT) AS rq,
             CAST(FLOOR((seasonal + resid) * 1000000.0 + 0.5) AS BIGINT)
               AS dq
      FROM ({base}) b
    ), m AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(rq AS HUGEINT)) AS sr,
             SUM(CAST(rq AS HUGEINT) * CAST(rq AS HUGEINT)) AS srr,
             SUM(CAST(dq AS HUGEINT)) AS sd,
             SUM(CAST(dq AS HUGEINT) * CAST(dq AS HUGEINT)) AS sdd
      FROM comp GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           (FLOOR(GREATEST(0.0, 1.0
              - CAST(CAST(n * srr - sr * sr AS VARCHAR) AS DOUBLE)
                / CAST(CAST(n * sdd - sd * sd AS VARCHAR) AS DOUBLE))
              * 1000000.0 + 0.5) / 1000000.0) AS seasonal_strength
    FROM m WHERE CAST(CAST(n * sdd - sd * sd AS VARCHAR) AS DOUBLE) > 0
    """


@register(
    "agg_seasonal_strength",
    _seasonal_strength_oracle(),
    doc="seasonal strength F_s = max(0, 1 - Var(resid)/Var(detrended)) "
    "per event type from the ts_decompose components — the scalar that "
    "says whether modeling seasonality is worth it",
)
def agg_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal-strength statistic folded over the engine's
    own decomposition: the share of detrended variance the seasonal
    profile explains. F_s ≈ 0 → skip the seasonal term; F_s near 1 →
    the diurnal cycle dominates (schedule capacity by hour-of-day,
    seasonally adjust anomaly thresholds). Read with ``agg_acf_lags``
    (which DETECTS the cycle) — this quantifies how much it matters.

    Composes the registered ``ts_decompose`` output (Spark builder and
    oracle both wrap it verbatim, so the three ops share one set of
    component semantics); the decomposition's columns are exact
    1e-6-grid doubles, so re-quantizing them to integers is lossless
    and both variances come from exact integer moments.

    Scale: everything runs on the decomposition's series spine.
    """
    base = ts_decompose(spark, sf_dir)
    comp = base.select(
        "event_type",
        F.floor(F.col("resid") * 1000000.0 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("rq"),
        F.floor(
            (F.col("seasonal") + F.col("resid")) * 1000000.0 + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("dq"),
    )
    m = comp.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("rq").alias("sr"),
        F.sum(F.col("rq") * F.col("rq")).alias("srr"),
        F.sum("dq").alias("sd"),
        F.sum(F.col("dq") * F.col("dq")).alias("sdd"),
    )
    var_r = dec_to_double(F.col("n") * F.col("srr") - F.col("sr") * F.col("sr"))
    var_d = dec_to_double(F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd"))
    fs = F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_d)
    return m.filter(var_d > 0).select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        (F.floor(fs * 1000000.0 + F.lit(0.5)) / 1000000.0).alias(
            "seasonal_strength"
        ),
    )


# ---------- agg_ljung_box ----------

_LB_LAGS = (1, 2, 3)  # consecutive lags → chi-square df = 3
_LB_CRIT_Q6 = 7814728  # chi2(3, 0.95) = 7.814728, quantized 1e-6


def _ljung_box_oracle() -> str:
    from cs_pipeline_spark.registry import _REGISTRY

    acf = _REGISTRY["agg_acf_lags"].oracle
    lags = ", ".join(str(k) for k in _LB_LAGS)
    return f"""
    WITH acf AS ({acf}),
    f AS (SELECT * FROM acf WHERE lag_hours IN ({lags})),
    nn AS (
      SELECT event_type,
             CAST(MAX(n_pairs + lag_hours) AS BIGINT) AS n
      FROM f GROUP BY event_type
    ),
    t AS (
      SELECT f.event_type, nn.n,
             CAST(FLOOR(f.acf * f.acf / (nn.n - f.lag_hours)
                  * 1000000000000.0 + 0.5) AS BIGINT) AS tq
      FROM f JOIN nn USING (event_type)
    ),
    q AS (
      SELECT event_type, MAX(n) AS n,
             CAST(FLOOR(CAST(MAX(n) * (MAX(n) + 2) AS DOUBLE)
                  * CAST(CAST(SUM(tq) AS VARCHAR) AS DOUBLE)
                  / 1000000000000.0 * 1000000.0 + 0.5) AS BIGINT) AS qq
      FROM t GROUP BY event_type HAVING COUNT(*) = {len(_LB_LAGS)}
    )
    SELECT event_type, n AS n_hours,
           CAST(qq AS DOUBLE) / 1000000.0 AS lb_q,
           COALESCE(qq >= {_LB_CRIT_Q6}, FALSE) AS autocorrelated
    FROM q
    """


@register(
    "agg_ljung_box",
    _ljung_box_oracle(),
    doc=f"Ljung-Box portmanteau white-noise test at lags {_LB_LAGS}: "
    "Q = n(n+2)·Σ ρ_k²/(n−k) over the exact-moment ACF, each term "
    "quantized 1e-12 before the sum, verdict vs the χ²(3) 95% "
    "critical value on the QUANTIZED statistic — 'is there ANY "
    "autocorrelation' gate run before trusting iid-based CIs",
)
def agg_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portmanteau test that gates every iid assumption
    downstream (``agg_bootstrap_ci``/``agg_jackknife_ci`` intervals
    are too narrow on autocorrelated series): Q sums the squared
    sample autocorrelations with the Ljung small-sample weights
    n(n+2)/(n−k); under white noise Q ~ χ²(h). Composes the registry:
    both the Spark side and the oracle consume ``agg_acf_lags``'s
    output (builder call / CTE splice), so the ρ_k inputs are the
    already-bit-identical quantized values.

    Determinism: each ρ_k²/(n−k) term is floor-quantized at 1e-12
    BEFORE the cross-lag sum (the chi2/entropy convention), n comes
    from max(n_pairs + k) — exact for the contiguous hourly series;
    the verdict compares the quantized integer Q against 7814728, so
    both engines branch identically.

    Scale: everything downstream of the ACF is per-(type, lag) rows —
    constant-size; the cost IS agg_acf_lags (one map-side-combined
    fact aggregation + spine joins).
    """
    acf = agg_acf_lags(spark, sf_dir).filter(
        F.col("lag_hours").isin(*_LB_LAGS)
    )
    nn = acf.groupBy("event_type").agg(
        F.max(F.col("n_pairs") + F.col("lag_hours")).alias("n")
    )
    t = acf.join(F.broadcast(nn), "event_type").select(
        "event_type",
        "n",
        F.floor(
            F.col("acf")
            * F.col("acf")
            / (F.col("n") - F.col("lag_hours"))
            * F.lit(1e12)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("tq"),
    )
    q = (
        t.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum("tq").alias("stq"),
            F.count(F.lit(1)).alias("n_lags"),
        )
        .filter(F.col("n_lags") == len(_LB_LAGS))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.floor(
                (F.col("n") * (F.col("n") + 2)).cast("double")
                * F.col("stq").cast("double")
                / F.lit(1e12)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("qq"),
        )
    )
    return q.select(
        "event_type",
        "n_hours",
        (F.col("qq").cast("double") / F.lit(1e6)).alias("lb_q"),
        F.coalesce(F.col("qq") >= _LB_CRIT_Q6, F.lit(False)).alias(
            "autocorrelated"
        ),
    )


# ---------- Hampel filter (rolling-median outlier repair) ----------

_HAMPEL_HALF = 3  # ±3 rows → 7-row centered frame


@register(
    "win_hampel_filter",
    f"""
    WITH q AS (SELECT event_type, event_id, {EVENTS_TS_SQL} AS ts,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
               FROM events),
    fr AS (SELECT event_type, event_id, qv,
           list_sort(list(qv) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN {_HAMPEL_HALF} PRECEDING
                      AND {_HAMPEL_HALF} FOLLOWING)) AS arr
           FROM q),
    md AS (SELECT event_type, event_id, qv, arr,
           arr[CAST((len(arr) + 1) // 2 AS INT)] AS med
           FROM fr),
    dv AS (SELECT event_type, qv, med,
           list_sort(list_transform(arr, x -> abs(x - med)))
             [CAST((len(arr) + 1) // 2 AS INT)] AS mad
           FROM md),
    fl AS (SELECT event_type, qv, med,
           CASE WHEN abs(qv - med) > 3 * mad THEN 1 ELSE 0 END AS is_out
           FROM dv)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_out) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN is_out = 1 THEN med ELSE qv END) AS BIGINT)
             AS sum_repaired_micro
    FROM fl GROUP BY event_type
    """,
    doc="Hampel filter: per-series rolling 7-row median + MAD, points "
    "beyond 3·MAD repaired to the window median — the robust sensor "
    "despiker (z-score cleaning breaks on the outliers themselves); "
    "exact integer micro-unit medians, per-type repair summary",
)
def win_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic Hampel despiking (the REPAIR op: win_hampel_despike is
    the trailing-window detector; this centered variant substitutes
    the median and reports the per-series repair summary): for each
    point, the median and MAD of
    its ±3-row neighborhood (time order per series); |x − med| > 3·MAD
    flags an outlier, repaired to the median. Medians are exact lower
    medians of 1e-6-quantized integers picked by index from the sorted
    frame array — zero float arithmetic, bit-identical engines.

    Plan: ONE shuffle on the series key; the frame array, both
    medians, and the flag are expression-side over a 7-element array
    (collect_list on a bounded ROWS frame — state is O(7), not the
    partition). The final summary reuses the same partitioning.

    Scale: windows are per-series (event_type here; device_id at
    100 TB) — no global order anywhere; frame state is constant-size
    regardless of series length.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HAMPEL_HALF, _HAMPEL_HALF)
    )
    fr = q.select(
        "event_type",
        "qv",
        F.array_sort(F.collect_list("qv").over(w)).alias("arr"),
    )
    md = fr.withColumn(
        "med",
        F.expr("element_at(arr, cast((size(arr) + 1) div 2 as int))"),
    )
    dv = md.withColumn(
        "mad",
        F.expr(
            "element_at(array_sort(transform(arr, x -> abs(x - med))), "
            "cast((size(arr) + 1) div 2 as int))"
        ),
    )
    fl = dv.withColumn(
        "is_out",
        F.when(
            F.abs(F.col("qv") - F.col("med")) > 3 * F.col("mad"), 1
        ).otherwise(0),
    )
    return fl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("is_out").cast("long").alias("n_outliers"),
        F.sum(
            F.when(F.col("is_out") == 1, F.col("med")).otherwise(F.col("qv"))
        )
        .cast("long")
        .alias("sum_repaired_micro"),
    )


# ---------- PACF via Durbin-Levinson ----------


def _pacf_oracle() -> str:
    from cs_pipeline_spark.registry import _REGISTRY

    acf = _REGISTRY["agg_acf_lags"].oracle
    return f"""
    WITH acf AS ({acf}),
    piv AS (
      SELECT event_type,
             CAST(MAX(n_pairs + lag_hours) AS BIGINT) AS n,
             MAX(CASE WHEN lag_hours = 1 THEN acf END) AS r1,
             MAX(CASE WHEN lag_hours = 2 THEN acf END) AS r2,
             MAX(CASE WHEN lag_hours = 3 THEN acf END) AS r3
      FROM acf WHERE lag_hours IN (1, 2, 3) GROUP BY event_type
      HAVING COUNT(*) = 3
    ),
    l2 AS (
      SELECT event_type, n, r1, r2, r3,
             CASE WHEN 1.0 - r1 * r1 <> 0.0
                  THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p2
      FROM piv
    ),
    l3 AS (
      SELECT event_type, n, r1, r2, r3, p2,
             r1 - p2 * r1 AS a21
      FROM l2
    ),
    fin AS (
      SELECT event_type, n, r1, p2,
             CASE WHEN 1.0 - a21 * r1 - p2 * r2 <> 0.0
                  THEN (r3 - a21 * r2 - p2 * r1)
                       / (1.0 - a21 * r1 - p2 * r2) END AS p3
      FROM l3
    ),
    qn AS (
      SELECT event_type, n,
             CAST(FLOOR(r1 * 1000000.0 + 0.5) AS BIGINT) AS q1,
             CAST(FLOOR(p2 * 1000000.0 + 0.5) AS BIGINT) AS q2,
             CAST(FLOOR(p3 * 1000000.0 + 0.5) AS BIGINT) AS q3,
             CAST(FLOOR(2.0 / SQRT(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
                  AS BIGINT) AS thr
      FROM fin
    )
    SELECT event_type, n AS n_hours,
           CAST(q1 AS DOUBLE) / 1000000.0 AS pacf1,
           CAST(q2 AS DOUBLE) / 1000000.0 AS pacf2,
           CAST(q3 AS DOUBLE) / 1000000.0 AS pacf3,
           CAST(CASE WHEN ABS(q3) > thr THEN 3
                     WHEN ABS(q2) > thr THEN 2
                     WHEN ABS(q1) > thr THEN 1 ELSE 0 END AS BIGINT)
             AS ar_order
    FROM qn
    """


@register(
    "ts_pacf_durbin",
    _pacf_oracle(),
    doc="partial autocorrelation at lags 1-3 via Durbin-Levinson "
    "over the exact-moment ACF, each PACF floor-quantized 1e-6, plus "
    "the AR-order pick (largest lag with |PACF| beyond the 2/sqrt(n) "
    "band, compared as integers) — the AR-order identifier beside "
    "agg_acf_lags (MA signature) and agg_ljung_box (any-vs-none)",
)
def ts_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF — the correlation at lag k with lags 1..k−1 regressed
    out, the Box-Jenkins tool that identifies AR order (PACF cuts off
    after p for an AR(p); the raw ACF instead tails forever and
    identifies MA order). Levels 2-3 of the Durbin-Levinson recursion
    are unrolled over the already-quantized ACF values:
    φ22 = (r2 − r1²)/(1 − r1²), φ33 from the level-2 coefficients.

    Determinism: the ρ_k inputs are ``agg_acf_lags``'s 1e-6-grid
    doubles (bit-identical engines); each recursion level is a FIXED
    expression tree of correctly-rounded +,−,·,/ — written
    identically on both sides — so the doubles agree bitwise before
    the final 1e-6 floor-quantize. The 2/√n significance band uses
    IEEE-exact sqrt and the order pick compares quantized integers.
    Degenerate denominators (|r1| = 1) yield NULL, not a crash.

    Scale: the cost is agg_acf_lags (one map-side-combined fact
    pass); everything here runs on k rows per series.
    """
    acf = agg_acf_lags(spark, sf_dir).filter(
        F.col("lag_hours").isin(1, 2, 3)
    )
    piv = (
        acf.groupBy("event_type")
        .agg(
            F.max(F.col("n_pairs") + F.col("lag_hours"))
            .cast("long")
            .alias("n"),
            F.max(F.when(F.col("lag_hours") == 1, F.col("acf"))).alias(
                "r1"
            ),
            F.max(F.when(F.col("lag_hours") == 2, F.col("acf"))).alias(
                "r2"
            ),
            F.max(F.when(F.col("lag_hours") == 3, F.col("acf"))).alias(
                "r3"
            ),
            F.count(F.lit(1)).alias("n_lags"),
        )
        .filter(F.col("n_lags") == 3)
    )
    p2 = F.when(
        F.lit(1.0) - F.col("r1") * F.col("r1") != 0.0,
        (F.col("r2") - F.col("r1") * F.col("r1"))
        / (F.lit(1.0) - F.col("r1") * F.col("r1")),
    )
    l2 = piv.withColumn("p2", p2)
    l3 = l2.withColumn("a21", F.col("r1") - F.col("p2") * F.col("r1"))
    p3 = F.when(
        F.lit(1.0)
        - F.col("a21") * F.col("r1")
        - F.col("p2") * F.col("r2")
        != 0.0,
        (
            F.col("r3")
            - F.col("a21") * F.col("r2")
            - F.col("p2") * F.col("r1")
        )
        / (
            F.lit(1.0)
            - F.col("a21") * F.col("r1")
            - F.col("p2") * F.col("r2")
        ),
    )
    fin = l3.withColumn("p3", p3)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    qn = fin.select(
        "event_type",
        "n",
        q6(F.col("r1")).alias("q1"),
        q6(F.col("p2")).alias("q2"),
        q6(F.col("p3")).alias("q3"),
        q6(F.lit(2.0) / F.sqrt(F.col("n").cast("double"))).alias("thr"),
    )
    return qn.select(
        "event_type",
        F.col("n").alias("n_hours"),
        (F.col("q1").cast("double") / F.lit(1e6)).alias("pacf1"),
        (F.col("q2").cast("double") / F.lit(1e6)).alias("pacf2"),
        (F.col("q3").cast("double") / F.lit(1e6)).alias("pacf3"),
        F.when(F.abs("q3") > F.col("thr"), 3)
        .when(F.abs("q2") > F.col("thr"), 2)
        .when(F.abs("q1") > F.col("thr"), 1)
        .otherwise(0)
        .cast("long")
        .alias("ar_order"),
    )


# ---------- EWMA control chart ----------

_EWMA_BLOCK = 31  # monitoring period: max shift 2*j = 62 stays int64-safe


@register(
    "win_ewma_chart",
    f"""
    WITH q AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    d AS (
      SELECT day, SUM(qv) // COUNT(*) AS x FROM q GROUP BY day
    ),
    g AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
      FROM d
    ),
    ix AS (
      SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS t FROM d
    ),
    blk AS (
      SELECT day, x, t,
             (t - 1) // {_EWMA_BLOCK} AS block,
             CAST(((t - 1) % {_EWMA_BLOCK}) + 1 AS BIGINT) AS j
      FROM ix
    ),
    pre AS (
      SELECT day, t, block, j, x, g.n, g.sx, g.sxx,
             SUM(CAST((x - CAST(g.sx // g.n AS BIGINT)) AS HUGEINT)
                 * (CAST(1 AS HUGEINT) << CAST(j - 1 AS INT))) OVER (
               PARTITION BY block ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dd
      FROM blk, g
    ),
    s AS (
      SELECT day, t, block, j, n, dd,
             CAST(sx // n AS BIGINT) AS mu,
             n * sxx - sx * sx AS s2n,
             (CAST(1 AS BIGINT) << CAST(2 * j AS INT)) - 1 AS ft
      FROM pre
    ),
    o AS (
      SELECT day, t, block, mu, dd, j,
             CASE WHEN s2n > 0 THEN
               ((CAST(CAST(dd AS VARCHAR) AS DOUBLE) * SQRT(3.0))
                * CAST(CAST(n AS VARCHAR) AS DOUBLE))
               / (SQRT(CAST(CAST(s2n AS VARCHAR) AS DOUBLE))
                  * SQRT(CAST(ft AS DOUBLE)))
             END AS sdev
      FROM s
    )
    SELECT day, CAST(t AS BIGINT) AS t, CAST(block AS BIGINT) AS block,
           FLOOR((CAST(mu AS DOUBLE)
                  + CAST(CAST(dd AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS DOUBLE))
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS ewma_value,
           FLOOR(sdev * 1000000.0 + 0.5) / 1000000.0 AS ewma_dev,
           COALESCE(ABS(sdev) > 3.0, FALSE) AS signal
    FROM o
    """,
    doc="EWMA control chart (lambda=1/2, L=3) over daily means, "
    f"restarted every {_EWMA_BLOCK} days: the scaled state 2^t*z_t "
    "is an exact integer weighted prefix sum, the time-varying limit "
    "sigma*sqrt((1-4^-t)/3) enters through IEEE-exact sqrt — catches "
    "the small sustained shifts Shewhart rule 1 misses, completing "
    "the SPC trio (agg_control_chart, win_cusum_changepoint)",
)
def win_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA chart — the SPC detector tuned for SMALL persistent mean
    shifts (a 0.5σ drift trips EWMA days before a 3σ Shewhart point;
    CUSUM is its sequential cousin). z_t = (z_{t-1}+x_t)/2 seeded at
    the process mean; scaling by 2^t turns the recursion into the
    exact integer prefix sum Z_t = Σ 2^{i-1}(x_i − μ), so the state
    never touches floats. The exact variance inflation (1 − 4^{-t})/3
    is kept (the asymptotic-limit shortcut overflags early points).

    The chart restarts every 31 days: weights ≥ 2^{-31} are BELOW the
    1e-6 output grid, so a longer memory adds literally nothing, and
    the restart is what bounds the shifts at any horizon — the block
    length is 31 (not 32) precisely so the largest shift amount,
    2*j = 62, stays inside int64 on BOTH engines (j = 32 would mean
    shiftleft(1L, 64), which Spark silently masks to 0 — ft = 0 and a
    divide-by-zero Infinity — while DuckDB throws Out of Range; the
    ≥32-day regression is pinned by
    tests/test_advice_r7.py::test_ewma_chart_survives_40_day_horizon).

    Scale: one map-side-combined daily aggregate + a 1-row global;
    the weighted prefix runs over the bounded day spine partitioned
    by 32-day block. One fact scan total.
    """
    ev = load(spark, "events", sf_dir).select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    d = ev.groupBy("day").agg(
        F.expr("sum(qv) div count(1)").cast("long").alias("x")
    )
    g = d.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("x").cast("decimal(38,0)")
            * F.col("x").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    wt = Window.partitionBy(one_part("x")).orderBy("day")
    ix = d.withColumn("t", F.row_number().over(wt))
    blk = ix.select(
        "day",
        "x",
        "t",
        F.expr(f"(t - 1) div {_EWMA_BLOCK}").alias("block"),
        F.expr(f"cast(((t - 1) % {_EWMA_BLOCK}) + 1 as bigint)").alias(
            "j"
        ),
    )
    wp = (
        Window.partitionBy("block")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = blk.crossJoin(F.broadcast(g)).withColumn(
        "dd",
        F.sum(
            F.expr(
                "cast(x - cast(sx div n as bigint) as decimal(38,0)) "
                "* cast(shiftleft(1L, cast(j - 1 as int)) as decimal(38,0))"
            )
        ).over(wp),
    )
    s = pre.select(
        "day",
        "t",
        "block",
        "j",
        "n",
        "dd",
        F.expr("cast(sx div n as bigint)").alias("mu"),
        F.expr("n * sxx - sx * sx").alias("s2n"),
        F.expr("shiftleft(1L, cast(2 * j as int)) - 1").alias("ft"),
    )
    sdev = F.when(
        F.col("s2n") > 0,
        (
            F.expr("CAST(CAST(dd AS STRING) AS DOUBLE)")
            * F.sqrt(F.lit(3.0))
            * F.expr("CAST(CAST(n AS STRING) AS DOUBLE)")
        )
        / (
            F.sqrt(F.expr("CAST(CAST(s2n AS STRING) AS DOUBLE)"))
            * F.sqrt(F.col("ft").cast("double"))
        ),
    )
    o = s.withColumn("sdev", sdev)
    return o.select(
        "day",
        F.col("t").cast("long").alias("t"),
        F.col("block").cast("long").alias("block"),
        (
            F.floor(
                (
                    F.col("mu").cast("double")
                    + F.expr("CAST(CAST(dd AS STRING) AS DOUBLE)")
                    / F.expr(
                        "CAST(shiftleft(1L, cast(j as int)) AS DOUBLE)"
                    )
                )
                / F.lit(1e6)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("ewma_value"),
        (F.floor(F.col("sdev") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "ewma_dev"
        ),
        F.coalesce(F.abs(F.col("sdev")) > 3.0, F.lit(False)).alias(
            "signal"
        ),
    )
