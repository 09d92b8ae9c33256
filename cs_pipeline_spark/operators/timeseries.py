"""Time-series analytics beyond the decomposition family in
``windows.py``: exponential smoothing, spectral power, and forecast
evaluation — each as one declarative plan with the repo's
exact-integer discipline (dyadic weights, per-term quantized
transcendentals, integer-ppm error metrics).

The reference's time axis handling (hourly ERA5 buckets,
processing_utils.py:142-256) motivates the hourly-index convention
used here: ``unix_micros(ts) div 3600000000`` — the same integer
bucket key as ``agg_seasonal_hod`` / ``agg_acf_lags``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.helpers import dec_to_double, dround, with_prefix_agg, with_rank_targets, with_total_rank, one_part, literal_df
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load

_Q6 = "CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)"


@register(
    "ts_ewma_dyadic",
    f"""
    WITH q AS (
      SELECT event_type,
             {_Q6} AS qv,
             epoch_us({EVENTS_TS_SQL}) AS us, event_id
      FROM events
    ),
    r AS (
      SELECT event_type, qv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY us DESC, event_id DESC) AS rn
      FROM q
    ),
    t AS (
      SELECT event_type, qv, rn,
             CASE WHEN rn <= 15 THEN CAST(1 AS BIGINT) << (15 - rn)
                  ELSE CAST(1 AS BIGINT) END AS w
      FROM r WHERE rn <= 16
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           FLOOR(CAST(CAST(SUM(qv * w) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(w) AS VARCHAR) AS DOUBLE)
                 / 1000000.0 * 1000000000.0 + 0.5) / 1000000000.0
             AS ewma,
           CAST(MAX(CASE WHEN rn = 1 THEN qv END) AS DOUBLE) / 1000000.0
             AS last_value
    FROM t GROUP BY event_type
    """,
    doc="dyadic EWMA (α=1/2, 16-tap) of the latest values per event "
    "type: exact power-of-two integer weights, one window pass — the "
    "smoothed 'current level' a monitor compares the last value to",
)
def ts_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average with α=1/2 truncated at
    16 taps — chosen because dyadic weights (2^-(k+1), remainder mass
    on the oldest tap) are EXACT binary fractions: the weighted sum is
    an exact integer (quantized value × power-of-two shift), and the
    single final division of two exact integers is quantized at 1e-9.
    No recursion, no float accumulation — the smoother becomes one
    window-rank pass plus one aggregate.

    Scale: the window ranks newest-first per key and keeps 16 rows —
    at 100 TB push a per-key time filter first (the EWMA only needs
    the trailing 16 events), then the shuffle carries ≤16 rows per
    key. Weights via shiftleft on the rank (numBits must be a cast
    column expression — the CLAUDE.md literal-int gotcha).
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        F.expr(_Q6).alias("qv"),
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    t = (
        q.select(
            "event_type", "qv", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 16)
        .withColumn(
            "w",
            F.expr(
                "CASE WHEN rn <= 15 THEN shiftleft(1L, cast(15 - rn AS int)) "
                "ELSE 1L END"
            ),
        )
    )
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        (
            F.floor(
                dec_to_double(F.sum(F.col("qv") * F.col("w")))
                / dec_to_double(F.sum("w"))
                / F.lit(1e6)
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("ewma"),
        (
            F.max(F.when(F.col("rn") == 1, F.col("qv"))).cast("double")
            / F.lit(1e6)
        ).alias("last_value"),
    )


@register(
    "ts_fourier_power",
    f"""
    WITH hourly AS (
      SELECT epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) AS BIGINT) AS sq
      FROM events GROUP BY 1
    ),
    px AS (
      SELECT h, sq, p.period
      FROM hourly CROSS JOIN (SELECT unnest([24, 168]) AS period) p
    ),
    terms AS (
      SELECT period, sq,
             CAST(FLOOR(cos(6.283185307179586 * (h % period) / period)
                  * 1000000000.0 + 0.5) AS BIGINT) AS qc,
             CAST(FLOOR(sin(6.283185307179586 * (h % period) / period)
                  * 1000000000.0 + 0.5) AS BIGINT) AS qs
      FROM px
    ),
    m AS (
      SELECT period,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             SUM(CAST(sq AS HUGEINT) * qc) AS a,
             SUM(CAST(sq AS HUGEINT) * qs) AS b,
             SUM(CAST(sq AS HUGEINT)) AS s
      FROM terms GROUP BY period
    )
    SELECT CAST(period AS BIGINT) AS period_h, n_hours,
           FLOOR(sqrt(CAST(CAST(a AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(a AS VARCHAR) AS DOUBLE)
                      + CAST(CAST(b AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(b AS VARCHAR) AS DOUBLE))
                 / 1000000000.0 / CAST(CAST(s AS VARCHAR) AS DOUBLE)
                 * 1000000000.0 + 0.5) / 1000000000.0 AS amp_ratio
    FROM m
    """,
    doc="spectral power at the daily (24 h) and weekly (168 h) periods "
    "of the hourly value series: one-frequency DFT with per-term "
    "1e-9-quantized cos/sin — the periodicity detector behind "
    "agg_acf_lags' correlation peaks",
)
def ts_fourier_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency discrete Fourier projection: the hourly
    quantized-sum series dotted against cos/sin at the daily and
    weekly periods, amplitude normalized by total mass. A strong
    daily cycle shows amp_ratio(24) ≫ amp_ratio(168); the spectral
    twin of the lag-24 autocorrelation peak.

    Determinism: each cos/sin factor is floor-quantized at 1e-9
    BEFORE the cross-row sum (the chi2/entropy convention — libm cos
    may differ in the last ulp between engines, the quantized integer
    does not); products ride HUGEINT/DECIMAL(38,0); only the final
    amplitude expression is float, itself quantized.

    Scale: one map-side-combined hourly aggregate (≪ events), a 2-row
    period fan-out, one 2-key aggregate. Adding frequencies is O(1)
    rows each — the bounded-frequency DFT, not an FFT over raw rows.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("h")
        .agg(F.sum("qv").cast("long").alias("sq"))
    )
    periods = spark.range(0, 2).select(
        F.when(F.col("id") == 0, 24).otherwise(168).alias("period")
    )
    px = hourly.crossJoin(F.broadcast(periods))
    arg = (
        F.lit(6.283185307179586)
        * (F.col("h") % F.col("period"))
        / F.col("period")
    )
    q9 = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")  # noqa: E731
    terms = px.select(
        "period",
        F.col("sq").cast("decimal(38,0)").alias("sqd"),
        q9(F.cos(arg)).alias("qc"),
        q9(F.sin(arg)).alias("qs"),
    )
    m = terms.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.col("sqd") * F.col("qc")).alias("a"),
        F.sum(F.col("sqd") * F.col("qs")).alias("b"),
        F.sum("sqd").alias("s"),
    )
    return m.select(
        F.col("period").cast("long").alias("period_h"),
        "n_hours",
        (
            F.floor(
                F.sqrt(
                    dec_to_double("a") * dec_to_double("a")
                    + dec_to_double("b") * dec_to_double("b")
                )
                / F.lit(1e9)
                / dec_to_double("s")
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("amp_ratio"),
    )


@register(
    "ts_forecast_eval",
    f"""
    WITH hourly AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) AS BIGINT) AS sq
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT c.event_type,
             CAST(c.sq AS HUGEINT) - p.sq AS err,
             CAST(p.sq AS HUGEINT) AS actual_prev
      FROM hourly c JOIN hourly p
        ON p.event_type = c.event_type AND p.h = c.h - 24
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(err)) // COUNT(*) AS BIGINT) AS mae_micro,
           CAST(SUM(err) // COUNT(*) AS BIGINT) AS bias_micro,
           CAST(SUM(abs(err) * 1000000 // actual_prev) // COUNT(*)
                AS BIGINT) AS mape_ppm
    FROM pairs GROUP BY event_type
    """,
    doc="seasonal-naive forecast evaluation: predict each hour's value "
    "mass by the same hour yesterday, score MAE/bias/MAPE in exact "
    "integer micro/ppm per event type — the baseline every forecaster "
    "must beat",
)
def ts_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive predictor (ŷ_t = y_{t−24h}) on
    the hourly quantized-sum series, per event type. MAE and bias are
    integer micro-unit divisions of exact sums; MAPE quantizes each
    per-hour relative error to integer ppm BEFORE averaging (the
    per-term rule — a single float sum of ratios would be
    order-dependent). Missing hours drop out via the inner lag join
    (evaluate only where both sides exist).

    Scale: the hourly rollup is one map-side-combined aggregate
    (output ≪ events); the lag join is an equi-join of that small
    series with itself on (type, h−24) — broadcastable. Products
    |err|·1e6 ride HUGEINT/DECIMAL(38,0) (int64 would cap near
    sf10 — the overflow rule).
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("qv").cast("long").alias("sq"))
    )
    cur = hourly.select(
        "event_type", "h", F.col("sq").cast("decimal(38,0)").alias("sqc")
    )
    prev = hourly.select(
        "event_type",
        (F.col("h") + 24).alias("h"),
        F.col("sq").cast("decimal(38,0)").alias("sqp"),
    )
    pairs = cur.join(prev, ["event_type", "h"]).select(
        "event_type",
        (F.col("sqc") - F.col("sqp")).alias("err"),
        F.col("sqp").alias("actual_prev"),
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("sum(abs(err)) div count(1)").cast("long").alias("mae_micro"),
        F.expr("sum(err) div count(1)").cast("long").alias("bias_micro"),
        F.expr("sum(abs(err) * 1000000 div actual_prev) div count(1)")
        .cast("long")
        .alias("mape_ppm"),
    )


@register(
    "ts_ohlc_bars",
    f"""
    WITH e AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // 86400000000 AS day,
             epoch_us({EVENTS_TS_SQL}) AS us, event_id,
             {_Q6} AS qv
      FROM events
    ),
    r AS (
      SELECT event_type, day, qv,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
                                ORDER BY us, event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
                                ORDER BY us DESC, event_id DESC) AS rl
      FROM e
    )
    SELECT event_type, CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rf = 1 THEN qv END) AS DOUBLE) / 1000000.0
             AS open,
           CAST(MAX(qv) AS DOUBLE) / 1000000.0 AS high,
           CAST(MIN(qv) AS DOUBLE) / 1000000.0 AS low,
           CAST(MAX(CASE WHEN rl = 1 THEN qv END) AS DOUBLE) / 1000000.0
             AS close
    FROM r GROUP BY event_type, day
    """,
    doc="daily OHLC bars per event type: open/close by exact rank "
    "picks on the (time, id) total order, high/low by min/max — the "
    "bar-resampling primitive behind every candlestick/metrics "
    "downsample",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bar aggregation (the OHLC resample): per (series, day), the
    first and last values on a deterministic total order plus the
    extremes. first()/last() aggregates are partitioning-dependent in
    Spark; the rank-pick form (row_number forward and backward, take
    rn=1) is exact and engine-identical — the same element-picking
    discipline as the discrete quantiles.

    Scale: one shuffle on (series, day); both rank windows and the
    final aggregate share that partitioning, so Catalyst plans a
    single exchange. Output is O(series·days) — the downsampled
    series a dashboard stores instead of raw events.
    """
    ev = load(spark, "events", sf_dir)
    e = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.expr(_Q6).alias("qv"),
    )
    wf = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    wl = Window.partitionBy("event_type", "day").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    r = e.select(
        "event_type",
        "day",
        "qv",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    v = lambda c: c.cast("double") / F.lit(1e6)  # noqa: E731
    return r.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        v(F.max(F.when(F.col("rf") == 1, F.col("qv")))).alias("open"),
        v(F.max("qv")).alias("high"),
        v(F.min("qv")).alias("low"),
        v(F.max(F.when(F.col("rl") == 1, F.col("qv")))).alias("close"),
    )


@register(
    "win_kaplan_meier",
    f"""
    WITH u AS (
      SELECT user_id,
             (MAX(epoch_us({EVENTS_TS_SQL}))
              - MIN(epoch_us({EVENTS_TS_SQL}))) // 86400000000 AS tenure_d
      FROM events GROUP BY user_id
    ),
    k AS (
      SELECT tenure_d, CAST(COUNT(*) AS BIGINT) AS d
      FROM u GROUP BY tenure_d
    ),
    r AS (
      SELECT tenure_d, d,
             CAST(SUM(d) OVER (ORDER BY tenure_d DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM k
    ),
    t AS (
      SELECT tenure_d, d, n_risk,
             CASE WHEN d < n_risk THEN
               CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                    * 1000000000.0 + 0.5) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS lq,
             CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dies_out
      FROM r
    ),
    c AS (
      SELECT tenure_d, d, n_risk,
             SUM(lq) OVER (ORDER BY tenure_d
                  ROWS UNBOUNDED PRECEDING) AS lsum,
             MAX(dies_out) OVER (ORDER BY tenure_d
                  ROWS UNBOUNDED PRECEDING) AS gone
      FROM t
    )
    SELECT tenure_d AS tenure_days, d AS n_churned, n_risk AS n_at_risk,
           CASE WHEN gone = 1 THEN CAST(0.0 AS DOUBLE) ELSE
             FLOOR(exp(CAST(lsum AS DOUBLE) / 1000000000.0)
                   * 1000000.0 + 0.5) / 1000000.0 END AS survival
    FROM c
    """,
    doc="Kaplan-Meier survival curve over user tenures: S(t) = "
    "Π(1 − d/n) computed as exp of a cumulative sum of per-day "
    "1e-9-quantized log factors — order-free, engine-exact; "
    "completes agg_churn_hazard's per-day hazard into the curve",
)
def win_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The survival curve itself: at-risk counts by a reverse running
    sum (the ``agg_churn_hazard`` machinery), then S(t) as a RUNNING
    PRODUCT — computed the only order-free way: each factor's log is
    floor-quantized at 1e-9, the cumulative sum of those integers is
    exact, and one final exp per output row is quantized at 1e-6. A
    float running product would pick up ULP drift in window-frame
    order; the log-domain integer form cannot. The day the risk set
    dies out (d = n) pins S to exactly 0 from then on (log undefined —
    handled structurally, not numerically).

    Scale: everything after the per-user tenure rollup runs on the
    O(days) table — three windows over a dashboard-sized frame. The
    tenure rollup is the one corpus shuffle (map-side combined
    min/max per user).
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.expr(
            "(max(unix_micros(ts)) - min(unix_micros(ts))) div 86400000000"
        ).alias("tenure_d")
    )
    k = u.groupBy("tenure_d").agg(F.count(F.lit(1)).cast("long").alias("d"))
    w_desc = Window.partitionBy(one_part("tenure_d")).orderBy(F.desc("tenure_d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = k.select(
        "tenure_d",
        "d",
        F.sum("d").over(w_desc).cast("long").alias("n_risk"),
    )
    t = r.select(
        "tenure_d",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("n_risk")
                )
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("lq"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias(
            "dies_out"
        ),
    )
    w_asc = Window.partitionBy(one_part("tenure_d")).orderBy("tenure_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = t.select(
        "tenure_d",
        "d",
        "n_risk",
        F.sum("lq").over(w_asc).alias("lsum"),
        F.max("dies_out").over(w_asc).alias("gone"),
    )
    return c.select(
        F.col("tenure_d").alias("tenure_days"),
        F.col("d").alias("n_churned"),
        F.col("n_risk").alias("n_at_risk"),
        F.when(F.col("gone") == 1, F.lit(0.0))
        .otherwise(
            F.floor(
                F.exp(F.col("lsum").cast("double") / F.lit(1e9))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        )
        .alias("survival"),
    )


_HOLT_T = 12  # steps (trailing days consumed)
_HOLT_H = 3  # forecast horizon (days ahead)


def _holt_oracle() -> str:
    parts = [
        f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // 86400000000 AS day,
             CAST(SUM({_Q6}) // COUNT(*) AS HUGEINT) AS x
      FROM events GROUP BY 1, 2
    ),
    lastd AS MATERIALIZED (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day DESC) AS rd
      FROM daily
    ),
    pts AS MATERIALIZED (
      SELECT event_type, x, {_HOLT_T} + 1 - rd AS t
      FROM lastd WHERE rd <= {_HOLT_T}
    ),
    s1 AS MATERIALIZED (
      SELECT event_type, 4 * x AS l, CAST(0 AS HUGEINT) AS b
      FROM pts WHERE t = 1
    )"""
    ]
    for t in range(2, _HOLT_T + 1):
        c = 4 ** (t - 1)
        parts.append(
            f""",
    s{t} AS MATERIALIZED (
      SELECT s.event_type,
             2 * {c} * p.x + 2 * s.l + 2 * s.b AS l,
             {c} * p.x - s.l + 3 * s.b AS b
      FROM s{t - 1} s JOIN pts p
        ON p.event_type = s.event_type AND p.t = {t}
    )"""
        )
    den = 4**_HOLT_T
    parts.append(
        f"""
    SELECT event_type,
           FLOOR(CAST(CAST(l AS VARCHAR) AS DOUBLE) / {den}.0
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS level,
           FLOOR(CAST(CAST(b AS VARCHAR) AS DOUBLE) / {den}.0
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS trend,
           FLOOR(CAST(CAST(l + {_HOLT_H} * b AS VARCHAR) AS DOUBLE)
                 / {den}.0 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
             AS forecast_{_HOLT_H}d
    FROM s{_HOLT_T}"""
    )
    return "".join(parts)


@register(
    "ts_holt_linear",
    _holt_oracle(),
    doc=f"Holt's linear-trend double smoothing (α=β=1/2, {_HOLT_T} "
    "trailing days, unrolled): state scaled by 4^t keeps BOTH "
    "recursions exact integers — level/trend/3-day forecast per "
    "event type with a bit-stable trajectory",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double exponential smoothing — the level+trend forecaster one
    rung above ``ts_ewma_dyadic``. The recursion
    ``l_t = (x_t + l_{t-1} + b_{t-1})/2, b_t = (l_t − l_{t-1} + b_{t-1})/2``
    looks float-bound, but scaling the state by 4^t clears every
    division: ``L_t = 2·4^{t-1}·x_t + 2L + 2B`` and
    ``B_t = 4^{t-1}·x_t − L + 3B`` are pure integer updates (the same
    rational-lifting trick as the integer PageRank). One final
    division by 4^T per output row, quantized at 1e-6.

    The forecast ŷ(T+h) = l_T + h·b_T is the number a capacity plan
    reads; the trend sign is the alert.

    Scale: the recursion runs on the per-(type, day) rollup —
    O(types) rows per step, joined by type (broadcast-sized). The
    corpus is touched once (map-side-combined daily aggregate).
    State magnitudes grow 4× per step: HUGEINT/DECIMAL(38,0) carries
    T=12 at any realistic daily mass (pre-scale x for longer
    unrolls — the overflow rule).
    """
    ev = load(spark, "events", sf_dir)
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.expr("sum(qv) div count(1)")
            .cast("decimal(38,0)")
            .alias("x")
        )
    )
    rd = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("day"))
    )
    pts = (
        daily.select("event_type", "x", rd.alias("rd"))
        .filter(F.col("rd") <= _HOLT_T)
        .select(
            "event_type", "x", (F.lit(_HOLT_T + 1) - F.col("rd")).alias("t")
        )
    )
    state = pts.filter(F.col("t") == 1).select(
        "event_type",
        (F.lit(4) * F.col("x")).alias("l"),
        F.lit(0).cast("decimal(38,0)").alias("b"),
    )
    for t in range(2, _HOLT_T + 1):
        c = 4 ** (t - 1)
        step = pts.filter(F.col("t") == t).select(
            "event_type", F.col("x").alias("xt")
        )
        state = state.join(step, "event_type").select(
            "event_type",
            (
                F.lit(2 * c) * F.col("xt")
                + F.lit(2) * F.col("l")
                + F.lit(2) * F.col("b")
            ).alias("l"),
            (
                F.lit(c) * F.col("xt") - F.col("l") + F.lit(3) * F.col("b")
            ).alias("b"),
        )
    den = float(4**_HOLT_T)
    return state.select(
        "event_type",
        dround(dec_to_double(F.col("l")) / F.lit(den) / F.lit(1e6)).alias("level"),
        dround(dec_to_double(F.col("b")) / F.lit(den) / F.lit(1e6)).alias("trend"),
        dround(
            dec_to_double(F.col("l") + F.lit(_HOLT_H) * F.col("b"))
            / F.lit(den)
            / F.lit(1e6)
        ).alias(f"forecast_{_HOLT_H}d"),
    )


# Gumbel method-of-moments constants, precomputed as exact literals:
# sqrt(6)/pi and the Euler–Mascheroni constant
_G_SQRT6_PI = 0.7796968012336761
_G_EULER = 0.5772156649015329
# -ln(-ln(1 - 1/T)) for T = 100-observation return period
_G_Y100 = 4.600149226776579


@register(
    "agg_gumbel_extremes",
    f"""
    WITH mx AS (
      SELECT epoch_us({EVENTS_TS_SQL}) // 86400000000 AS day,
             MAX({_Q6}) AS m
      FROM events GROUP BY 1
    ),
    mo AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(m AS HUGEINT)) AS s1,
             SUM(CAST(m AS HUGEINT) * m) AS s2
      FROM mx
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           FLOOR(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS block_mean,
           FLOOR({_G_SQRT6_PI} * SQRT(
                   CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS gumbel_beta,
           FLOOR((CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                  - {_G_EULER} * ({_G_SQRT6_PI} * SQRT(
                      CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                    / CAST(CAST(n AS VARCHAR) AS DOUBLE))) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS gumbel_mu,
           FLOOR(((CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                  - {_G_EULER} * ({_G_SQRT6_PI} * SQRT(
                      CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                    / CAST(CAST(n AS VARCHAR) AS DOUBLE)))
                  + {_G_Y100} * ({_G_SQRT6_PI} * SQRT(
                      CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                    / CAST(CAST(n AS VARCHAR) AS DOUBLE))) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS return_level_100
    FROM mo
    """,
    doc="extreme-value analysis: Gumbel method-of-moments fit over "
    "daily block maxima (location, scale) plus the 100-block return "
    "level — the ERA5-style 'how bad can it get' statistic, from "
    "exact integer moments",
)
def agg_gumbel_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-maxima extreme-value fitting — the statistic climate
    pipelines (the reference's domain) publish as return levels: take
    daily maxima (exact integer MAX), fit Gumbel by method of moments
    (β = √6·s/π, μ = x̄ − γβ with the constants baked as exact double
    literals), and report the 100-block return level
    μ + β·(−ln(−ln(1−1/100))). Variance comes from the
    cancellation-free integer form n·Σx² − (Σx)².

    Every output is one fixed float expression over exact integers
    and literal constants, floor-quantized at 1e-6 — bit-identical in
    both engines.

    Scale: daily maxima are one map-side-combined MAX aggregate
    (O(days) rows); the moment rollup is a 1-row aggregate. At 100 TB
    the same shape runs per (region, variable) key — still two
    aggregates, no shuffle of raw rows beyond the first.
    """
    ev = load(spark, "events", sf_dir)
    mx = (
        ev.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("day")
        .agg(F.max("qv").alias("m"))
    )
    d38 = "decimal(38,0)"
    mo = mx.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("m").cast(d38)).alias("s1"),
        F.sum(F.col("m").cast(d38) * F.col("m")).alias("s2"),
    )
    q6 = lambda c: F.floor(c / F.lit(1e6) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    mean = dec_to_double("s1") / dec_to_double("n")
    var_num = (
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast("string")
        .cast("double")
    )
    beta = F.lit(_G_SQRT6_PI) * F.sqrt(var_num) / dec_to_double("n")
    mu = mean - F.lit(_G_EULER) * beta
    return mo.select(
        F.col("n").cast("long").alias("n_blocks"),
        q6(mean).alias("block_mean"),
        q6(beta).alias("gumbel_beta"),
        q6(mu).alias("gumbel_mu"),
        q6(mu + F.lit(_G_Y100) * beta).alias("return_level_100"),
    )


@register(
    "win_user_lifecycle",
    f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             epoch_us({EVENTS_TS_SQL}) // 604800000000 AS wk
      FROM events
    ),
    seq AS (
      SELECT user_id, wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
      FROM uw
    ),
    mx AS (SELECT MAX(wk) AS max_wk FROM uw),
    states AS (
      SELECT wk,
             CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM seq GROUP BY wk
    ),
    churn AS (
      SELECT s.wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM seq s CROSS JOIN mx
      WHERE (s.next_wk IS NULL OR s.next_wk > s.wk + 1)
        AND s.wk + 1 <= mx.max_wk
      GROUP BY s.wk + 1
    )
    SELECT st.wk AS week, st.n_new, st.n_retained, st.n_resurrected,
           st.n_active, COALESCE(c.n_churned, 0) AS n_churned
    FROM states st LEFT JOIN churn c ON c.wk = st.wk
    """,
    doc="growth accounting: weekly user lifecycle states (new / "
    "retained / resurrected / churned / active) from first/lag/lead "
    "activity weeks — the GAAP of product growth, integer-exact",
)
def win_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth-accounting identity every product review reads:
    active(w) = new(w) + retained(w) + resurrected(w), and
    churned(w) = users active at w−1 who did not return at w. Stages
    derive from three windows over the distinct (user, week) activity
    table — first week (new), lag (retained vs resurrected), lead
    (churn attribution into the following week, capped at the
    observed horizon so the final open week never reports churn).

    Scale: the corpus collapses to distinct (user, week) FIRST (one
    map-side-combined distinct, ≪ events); the three windows share
    one user-key exchange; the weekly rollup is dashboard-sized.
    """
    ev = load(spark, "events", sf_dir)
    uw = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 604800000000").alias("wk"),
    ).distinct()
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(wu).alias("first_wk"),
        F.lag("wk").over(wo).alias("prev_wk"),
        F.lead("wk").over(wo).alias("next_wk"),
    )
    mx = uw.agg(F.max("wk").alias("max_wk"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    states = seq.groupBy("wk").agg(
        cnt(F.col("wk") == F.col("first_wk")).alias("n_new"),
        cnt(F.col("prev_wk") == F.col("wk") - 1).alias("n_retained"),
        cnt(
            F.col("prev_wk").isNotNull()
            & (F.col("prev_wk") < F.col("wk") - 1)
        ).alias("n_resurrected"),
        F.count(F.lit(1)).cast("long").alias("n_active"),
    )
    churn = (
        seq.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") + 1 <= F.col("max_wk"))
        )
        .groupBy((F.col("wk") + 1).alias("cwk"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return (
        states.join(churn, states.wk == churn.cwk, "left")
        .select(
            F.col("wk").alias("week"),
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_active",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


@register(
    "win_funnel_latency",
    f"""
    WITH s AS (
      SELECT user_id, MIN(epoch_us({EVENTS_TS_SQL})) AS s_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             MIN(epoch_us({EVENTS_TS_SQL})) AS p_us
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us({EVENTS_TS_SQL}) > s.s_us
      GROUP BY e.user_id
    ),
    d AS (
      SELECT (p.p_us - s.s_us) // 1000000 AS lat_s
      FROM p JOIN s ON s.user_id = p.user_id
    ),
    r AS (
      SELECT lat_s,
             ROW_NUMBER() OVER (ORDER BY lat_s) AS rn,
             COUNT(*) OVER () AS nn
      FROM d
    )
    SELECT CAST(MAX(nn) AS BIGINT) AS n_converted,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * nn) AS BIGINT)
                THEN lat_s END) AS BIGINT) AS median_latency_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * nn) AS BIGINT)
                THEN lat_s END) AS BIGINT) AS p90_latency_s,
           CAST(MIN(lat_s) AS BIGINT) AS min_latency_s
    FROM r
    """,
    doc="funnel latency: per-user signup→first-subsequent-purchase "
    "delay, summarized as exact discrete median/p90 seconds — the "
    "time-to-convert metric agg_funnel_windowed's counts omit",
)
def win_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How LONG conversion takes — the funnel's second axis: each
    user's first signup paired with their first strictly-later
    purchase, the latency distribution summarized by exact
    rank-picked quantiles (element-picking — no interpolation).
    Ordering discipline: the purchase must follow the signup in event
    time, not merely exist (the same-user-earlier-purchase trap).

    Scale: two per-user MIN aggregates (map-side combined) joined on
    the user key — the fact stream shuffles once per cohort side and
    the latency table is ≤ users rows; the quantile rank runs on that
    small table.
    """
    ev = load(spark, "events", sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("us"))
        .join(s, "user_id")
        .filter(F.col("us") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    # referenced by the rank-target passes AND the min aggregate —
    # pin so the two fact aggregates + join run once, not per pass
    d = pin(
        p.join(s, "user_id").select(
            F.expr("(p_us - s_us) div 1000000").alias("lat_s")
        )
    )
    picks = with_rank_targets(
        d,
        "lat_s",
        (),
        [
            "cast(ceil(0.5 * nn) as bigint)",
            "cast(ceil(0.9 * nn) as bigint)",
        ],
    )
    quant = picks.agg(
        F.max("nn").cast("long").alias("n_converted"),
        F.max(F.when(F.col("tid") == 0, F.col("value")))
        .cast("long")
        .alias("median_latency_s"),
        F.max(F.when(F.col("tid") == 1, F.col("value")))
        .cast("long")
        .alias("p90_latency_s"),
    )
    return quant.crossJoin(
        F.broadcast(d.agg(F.min("lat_s").cast("long").alias("min_latency_s")))
    )


@register(
    "win_last_touch_attribution",
    f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us({EVENTS_TS_SQL}) AS us, event_id
      FROM events
    ),
    w AS (
      SELECT user_id, event_type, us, event_id,
             last_value(CASE WHEN event_type <> 'purchase'
                        THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM e
    ),
    att AS (
      SELECT COALESCE(touch, 'none') AS touch FROM w
      WHERE event_type = 'purchase'
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM att)
    SELECT att.touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS share_ppm
    FROM att CROSS JOIN tot GROUP BY att.touch, tot.n
    """,
    doc="last-touch attribution: each purchase credited to the "
    "nearest preceding non-purchase event type in the user's stream "
    "(IGNORE NULLS running last_value) — the marketing-credit report, "
    "integer shares",
)
def win_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attribution — which interaction gets credit for a conversion:
    the last-touch rule credits the latest preceding non-purchase
    event. The windowed ``last_value(... IGNORE NULLS)`` over
    UNBOUNDED PRECEDING..1 PRECEDING is exactly the as-of lookup
    within a partition (both engines support the IGNORE NULLS frame —
    the CLAUDE.md-documented DuckDB behavior); purchases with no
    prior touch fall into the 'none' bucket instead of dropping.

    Scale: one shuffle on user_id shared by the window; the credit
    rollup is a tiny map-side-combined aggregate. First-touch and
    linear attribution are frame variants of the same plan.
    """
    ev = load(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    att = (
        e.select("event_type", touch.alias("touch"))
        .filter(F.col("event_type") == "purchase")
        .select(F.coalesce("touch", F.lit("none")).alias("touch"))
    )
    tot = att.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        att.crossJoin(F.broadcast(tot))
        .groupBy("touch", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
        .select(
            "touch",
            "n_purchases",
            F.expr("n_purchases * 1000000 div n")
            .cast("long")
            .alias("share_ppm"),
        )
    )


@register(
    "win_allen_relations",
    f"""
    WITH spans AS (
      SELECT user_id, event_type,
             MIN(epoch_us({EVENTS_TS_SQL})) AS s,
             MAX(epoch_us({EVENTS_TS_SQL})) AS e
      FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
      SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
      FROM spans a JOIN spans b
        ON b.user_id = a.user_id
       AND (a.s < b.s OR (a.s = b.s AND a.event_type < b.event_type))
    ),
    rel AS (
      SELECT CASE
        WHEN e1 < s2 THEN 'before'
        WHEN e1 = s2 THEN 'meets'
        WHEN s1 = s2 AND e1 = e2 THEN 'equals'
        WHEN s1 = s2 THEN 'starts'
        WHEN e1 = e2 THEN 'finishes'
        WHEN e1 > e2 THEN 'contains'
        ELSE 'overlaps' END AS relation
      FROM pairs
    )
    SELECT relation, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM rel GROUP BY relation
    """,
    doc="Allen's interval algebra census: per-user activity spans of "
    "each event type classified pairwise into the seven canonical "
    "temporal relations (before/meets/overlaps/starts/during/"
    "finishes/equals) — the vocabulary temporal joins reason in, "
    "pure integer comparisons",
)
def win_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra — the complete, mutually-exclusive
    classification of how two time intervals can relate. Every
    temporal-join flavor in the registry is a subset of it
    (``join_interval_overlap`` = overlaps∪contains∪…, as-of joins =
    before with a bound); this op names each relation explicitly over
    per-(user, type) activity spans and censuses the distribution —
    the profile that tells you WHICH temporal join your data needs.
    All classifications are exact integer-µs comparisons on a
    canonical pair order (start, then type — so each unordered pair
    appears exactly once).

    Scale: spans are one map-side-combined min/max rollup (k·users
    rows ≪ events); the pair join is per-user with bounded
    cardinality (k types ⇒ ≤ k(k−1)/2 pairs per user) — the blocked
    pairwise discipline.
    """
    ev = load(spark, "events", sf_dir)
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("e"),
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("ta"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("tb"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = a.join(
        b,
        (a.user_id == b.user_id)
        & (
            (F.col("s1") < F.col("s2"))
            | ((F.col("s1") == F.col("s2")) & (F.col("ta") < F.col("tb")))
        ),
    )
    rel = pairs.select(
        F.when(F.col("e1") < F.col("s2"), "before")
        .when(F.col("e1") == F.col("s2"), "meets")
        .when(
            (F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2")),
            "equals",
        )
        .when(F.col("s1") == F.col("s2"), "starts")
        .when(F.col("e1") == F.col("e2"), "finishes")
        .when(F.col("e1") > F.col("e2"), "contains")
        .otherwise("overlaps")
        .alias("relation")
    )
    return rel.groupBy("relation").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


@register(
    "agg_seasonal_envelope",
    f"""
    WITH q AS (
      SELECT CAST(EXTRACT(hour FROM {EVENTS_TS_SQL}) AS BIGINT) AS hod,
             {_Q6} AS qv, event_id
      FROM events
    ),
    r AS (
      SELECT hod, qv,
             ROW_NUMBER() OVER (PARTITION BY hod ORDER BY qv, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY hod) AS nn
      FROM q
    )
    SELECT hod AS hour_of_day,
           CAST(MAX(nn) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.1 * nn) AS BIGINT)
                THEN qv END) AS DOUBLE) / 1000000.0 AS p10,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * nn) AS BIGINT)
                THEN qv END) AS DOUBLE) / 1000000.0 AS p50,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * nn) AS BIGINT)
                THEN qv END) AS DOUBLE) / 1000000.0 AS p90
    FROM r GROUP BY hod
    """,
    doc="seasonal percentile envelope: per hour-of-day exact "
    "rank-picked p10/p50/p90 of the value distribution — the "
    "expected band a live metric is compared against (outside the "
    "envelope at 3 AM means something different than at noon)",
)
def agg_seasonal_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware alert bands: anomaly thresholds that ignore
    time of day page the on-call at every traffic peak. This op
    builds the per-hour-of-day percentile envelope (exact discrete
    rank picks — the element-picking convention) that a monitor
    compares live values against: the 24×3 table IS the alert
    configuration. ``agg_seasonal_hod`` gives the per-hour mean;
    the envelope adds the distribution width the mean hides.

    Scale: one shuffle on the 24-key hour bucket shared by the rank
    window and the rollup; output is constant-size regardless of
    volume.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        F.hour("ts").cast("long").alias("hod"),
        F.expr(_Q6).alias("qv"),
        "event_id",
    )
    r = q.select(
        "hod",
        "qv",
        F.row_number()
        .over(Window.partitionBy("hod").orderBy("qv", "event_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("hod")).alias("nn"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("nn")), F.col("qv"))
    ).cast("double") / F.lit(1e6)
    return r.groupBy(F.col("hod").alias("hour_of_day")).agg(
        F.max("nn").cast("long").alias("n"),
        pick(0.1).alias("p10"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
    )


@register(
    "win_survival_rmst",
    f"""
    WITH u AS (
      SELECT user_id,
             (MAX(epoch_us({EVENTS_TS_SQL}))
              - MIN(epoch_us({EVENTS_TS_SQL}))) // 86400000000 AS tenure_d
      FROM events GROUP BY user_id
    ),
    k AS (
      SELECT tenure_d, CAST(COUNT(*) AS BIGINT) AS d
      FROM u GROUP BY tenure_d
    ),
    r AS (
      SELECT tenure_d, d,
             CAST(SUM(d) OVER (ORDER BY tenure_d DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
      FROM k
    ),
    t AS (
      SELECT tenure_d, d, n_risk,
             CASE WHEN d < n_risk THEN
               CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                    * 1000000000.0 + 0.5) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS lq,
             CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dies_out
      FROM r
    ),
    c AS (
      SELECT tenure_d,
             SUM(lq) OVER (ORDER BY tenure_d
                  ROWS UNBOUNDED PRECEDING) AS lsum,
             MAX(dies_out) OVER (ORDER BY tenure_d
                  ROWS UNBOUNDED PRECEDING) AS gone,
             LEAD(tenure_d) OVER (ORDER BY tenure_d) AS next_d
      FROM t
    ),
    seg AS (
      SELECT tenure_d,
             CASE WHEN gone = 1 THEN CAST(0 AS BIGINT) ELSE
               CAST(FLOOR(exp(CAST(lsum AS DOUBLE) / 1000000000.0)
                    * 1000000.0 + 0.5) AS BIGINT) END AS s_micro,
             COALESCE(next_d - tenure_d, 0) AS width_d
      FROM c
    ),
    first_seg AS (
      SELECT MIN(tenure_d) AS t0 FROM seg
    )
    SELECT CAST(MAX(tenure_d) AS BIGINT) AS horizon_days,
           FLOOR((CAST(MAX(f.t0) AS DOUBLE)
                  + CAST(SUM(s_micro * width_d) AS DOUBLE) / 1000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS rmst_days
    FROM seg CROSS JOIN first_seg f
    """,
    doc="restricted mean survival time from the Kaplan-Meier step "
    "curve: S(t)·segment-width integrated over the observed horizon "
    "(survival pre-quantized at 1e-6 so the area sum is exact "
    "integers) — the 'expected retained days' scalar the curve hides",
)
def win_survival_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMST — the area under the survival curve up to the observed
    horizon: the expected number of retained days per user, the
    single number that compares cohorts/products where median
    survival is undefined (curves that never cross 0.5). Computed as
    the step-function integral over ``win_kaplan_meier``'s grid:
    survival is S(t) = 1 up to the first event time (the t0 offset),
    then each quantized S value times its segment width — integer
    products, one exact sum, a final 1e-6 quantization.

    Scale: identical to the KM op — per-user rollup once, then
    windows over the O(days) grid.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.expr(
            "(max(unix_micros(ts)) - min(unix_micros(ts))) div 86400000000"
        ).alias("tenure_d")
    )
    k = u.groupBy("tenure_d").agg(F.count(F.lit(1)).cast("long").alias("d"))
    w_desc = Window.partitionBy(one_part("tenure_d")).orderBy(F.desc("tenure_d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = k.select(
        "tenure_d",
        "d",
        F.sum("d").over(w_desc).cast("long").alias("n_risk"),
    )
    t = r.select(
        "tenure_d",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.log(
                    F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
                )
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("lq"),
        F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0).alias(
            "dies_out"
        ),
    )
    w_asc = Window.partitionBy(one_part("tenure_d")).orderBy("tenure_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = t.select(
        "tenure_d",
        F.sum("lq").over(w_asc).alias("lsum"),
        F.max("dies_out").over(w_asc).alias("gone"),
        F.lead("tenure_d").over(
            Window.partitionBy(one_part("tenure_d")).orderBy("tenure_d")
        ).alias("next_d"),
    )
    seg = c.select(
        "tenure_d",
        F.when(F.col("gone") == 1, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.exp(F.col("lsum").cast("double") / F.lit(1e9))
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("s_micro"),
        F.coalesce(F.col("next_d") - F.col("tenure_d"), F.lit(0)).alias(
            "width_d"
        ),
    )
    t0 = seg.agg(F.min("tenure_d").alias("t0"))
    return seg.crossJoin(F.broadcast(t0)).agg(
        F.max("tenure_d").cast("long").alias("horizon_days"),
        (
            F.floor(
                (
                    F.max("t0").cast("double")
                    + F.sum(F.col("s_micro") * F.col("width_d")).cast(
                        "double"
                    )
                    / F.lit(1e6)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("rmst_days"),
    )


@register(
    "agg_overdispersion",
    f"""
    WITH hc AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(c AS HUGEINT)) AS s1,
             SUM(CAST(c AS HUGEINT) * c) AS s2
      FROM hc GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           FLOOR(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_count,
           CAST(CASE WHEN s1 > 0 THEN
             CAST(FLOOR(CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(n * s1 AS VARCHAR) AS DOUBLE)
                  * 1000000.0 + 0.5) AS BIGINT) END AS BIGINT)
             AS vmr_ppm,
           COALESCE(CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)
                    / CAST(CAST(n * s1 AS VARCHAR) AS DOUBLE) > 1.2,
                    FALSE) AS overdispersed
    FROM m
    """,
    doc="overdispersion audit of hourly event counts: variance-to-"
    "mean ratio (exact integer moments, ppm) with the Poisson "
    "deviation flag — VMR ≈ 1 is Poisson traffic, ≫ 1 is bursty/"
    "contagious, the distribution choice every count model hinges on",
)
def agg_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson check: count data is modeled Poisson by default,
    but real traffic is usually overdispersed (variance > mean —
    bursts, campaigns, retries), which breaks Poisson confidence
    intervals and anomaly thresholds. The variance-to-mean ratio
    (index of dispersion) per event type from cancellation-free
    integer moments ((n·Σc²−(Σc)²)/(n·Σc)) settles it; the flag uses
    a 1.2 practical threshold. Pairs with ``agg_interarrival_cv``
    (the same question asked of gaps instead of counts).

    Scale: one map-side-combined hourly rollup, one O(types)
    moment aggregate.
    """
    ev = load(spark, "events", sf_dir)
    hc = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    d38 = "decimal(38,0)"
    m = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("c").cast(d38)).alias("s1"),
        F.sum(F.col("c").cast(d38) * F.col("c")).alias("s2"),
    )
    var_num = m.n * m.s2 - m.s1 * m.s1
    vmr = dec_to_double(var_num) / dec_to_double(m.n * m.s1)
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        (
            F.floor(dec_to_double("s1") / dec_to_double("n") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("mean_count"),
        F.when(
            F.col("s1") > 0,
            F.floor(vmr * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("vmr_ppm"),
        F.coalesce(vmr > F.lit(1.2), F.lit(False)).alias("overdispersed"),
    )


@register(
    "win_peak_detect",
    f"""
    WITH hourly AS (
      SELECT epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) AS BIGINT) AS sq
      FROM events GROUP BY 1
    ),
    n AS (
      SELECT h, sq,
             LAG(sq) OVER (ORDER BY h) AS prv,
             LEAD(sq) OVER (ORDER BY h) AS nxt,
             LAG(h) OVER (ORDER BY h) AS prv_h,
             LEAD(h) OVER (ORDER BY h) AS nxt_h
      FROM hourly
    ),
    peaks AS (
      SELECT h, sq FROM n
      WHERE prv IS NOT NULL AND nxt IS NOT NULL
        AND prv_h = h - 1 AND nxt_h = h + 1
        AND sq > prv AND sq > nxt
    ),
    gaps AS (
      SELECT h - LAG(h) OVER (ORDER BY h) AS gap FROM peaks
    )
    SELECT CAST((SELECT COUNT(*) FROM peaks) AS BIGINT) AS n_peaks,
           CAST((SELECT COUNT(*) FROM hourly) AS BIGINT) AS n_hours,
           CAST(SUM(gap) // COUNT(gap) AS BIGINT) AS mean_gap_h,
           CAST(MIN(gap) AS BIGINT) AS min_gap_h,
           CAST(MAX(gap) AS BIGINT) AS max_gap_h
    FROM gaps WHERE gap IS NOT NULL
    """,
    doc="local-maxima peak census on the hourly series (strict "
    "neighbors, contiguous-hour guard) with inter-peak spacing "
    "stats — a mean gap near 24 h confirms the daily cycle in the "
    "time domain, complementing ts_fourier_power's spectral view",
)
def win_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection — the time-domain periodicity check: strict
    local maxima (greater than BOTH contiguous neighbors; hours
    missing from the series disqualify their neighbors rather than
    fabricate a comparison) and the spacing distribution between
    consecutive peaks. Daily-cycled traffic shows mean spacing ≈ 24;
    bursty traffic shows small, irregular gaps. Exact integer
    comparisons and integer gap arithmetic throughout.

    Scale: lag/lead over the hourly rollup (O(hours) rows after one
    map-side-combined aggregate); at 100 TB run per series key like
    every sequence op.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("h")
        .agg(F.sum("qv").cast("long").alias("sq"))
    )
    w = Window.partitionBy(one_part("h")).orderBy("h")
    n = hourly.select(
        "h",
        "sq",
        F.lag("sq").over(w).alias("prv"),
        F.lead("sq").over(w).alias("nxt"),
        F.lag("h").over(w).alias("prv_h"),
        F.lead("h").over(w).alias("nxt_h"),
    )
    peaks = n.filter(
        F.col("prv").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("prv_h") == F.col("h") - 1)
        & (F.col("nxt_h") == F.col("h") + 1)
        & (F.col("sq") > F.col("prv"))
        & (F.col("sq") > F.col("nxt"))
    ).select("h", "sq")
    n_peaks = peaks.agg(F.count(F.lit(1)).cast("long").alias("n_peaks"))
    n_hours = hourly.agg(F.count(F.lit(1)).cast("long").alias("n_hours"))
    gaps = peaks.select(
        (
            F.col("h")
            - F.lag("h").over(Window.partitionBy(one_part("h")).orderBy("h"))
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return (
        gaps.agg(
            F.expr("sum(gap) div count(gap)").cast("long").alias("mean_gap_h"),
            F.min("gap").cast("long").alias("min_gap_h"),
            F.max("gap").cast("long").alias("max_gap_h"),
        )
        .crossJoin(F.broadcast(n_peaks))
        .crossJoin(F.broadcast(n_hours))
        .select("n_peaks", "n_hours", "mean_gap_h", "min_gap_h", "max_gap_h")
    )


_HURST_SCALES = (8, 16, 32)
# OLS slope over (ln 8, ln 16, ln 32) collapses to c·(y3 − y1)
_HURST_C = 0.7213475204444816


def _hurst_scale_sql(s: int) -> str:
    return f"""
      SELECT {s} AS scale,
             CAST(SUM(rsq) // COUNT(*) AS BIGINT) AS rs_q
      FROM (
        SELECT b.blk,
               CAST(FLOOR(CAST(MAX(b.cd) - MIN(b.cd) AS DOUBLE)
                    / SQRT(CAST(CAST(MAX(b.sxx) * {s} - MAX(b.sx) * MAX(b.sx)
                           AS VARCHAR) AS DOUBLE))
                    * 1000000000.0 + 0.5) AS BIGINT) AS rsq
        FROM (
          SELECT ridx // {s} AS blk,
                 {s} * SUM(sq) OVER (PARTITION BY ridx // {s}
                      ORDER BY h ROWS UNBOUNDED PRECEDING)
                   - (ROW_NUMBER() OVER (PARTITION BY ridx // {s}
                      ORDER BY h))
                     * SUM(sq) OVER (PARTITION BY ridx // {s}) AS cd,
                 SUM(CAST(sq AS HUGEINT) * sq)
                   OVER (PARTITION BY ridx // {s}) AS sxx,
                 SUM(CAST(sq AS HUGEINT))
                   OVER (PARTITION BY ridx // {s}) AS sx,
                 COUNT(*) OVER (PARTITION BY ridx // {s}) AS bn
          FROM hh
        ) b
        WHERE b.bn = {s}
        GROUP BY b.blk
        HAVING MAX(b.sxx) * {s} - MAX(b.sx) * MAX(b.sx) > 0
      ) t
    """


def _hurst_oracle() -> str:
    scales = " UNION ALL ".join(
        _hurst_scale_sql(s) for s in _HURST_SCALES
    )
    return f"""
    WITH hourly AS (
      SELECT epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) AS HUGEINT) AS sq
      FROM events GROUP BY 1
    ),
    hh AS (
      SELECT h, sq,
             ROW_NUMBER() OVER (ORDER BY h) - 1 AS ridx FROM hourly
    ),
    rs AS ({scales})
    SELECT
      CAST(MAX(CASE WHEN scale = 8 THEN rs_q END) AS DOUBLE)
        / 1000000000.0 AS rs_8,
      CAST(MAX(CASE WHEN scale = 16 THEN rs_q END) AS DOUBLE)
        / 1000000000.0 AS rs_16,
      CAST(MAX(CASE WHEN scale = 32 THEN rs_q END) AS DOUBLE)
        / 1000000000.0 AS rs_32,
      FLOOR({_HURST_C} * (
            ln(CAST(MAX(CASE WHEN scale = 32 THEN rs_q END) AS DOUBLE)
               / 1000000000.0)
            - ln(CAST(MAX(CASE WHEN scale = 8 THEN rs_q END) AS DOUBLE)
               / 1000000000.0))
            * 1000000.0 + 0.5) / 1000000.0 AS hurst
    FROM rs
    """


@register(
    "ts_hurst_exponent",
    _hurst_oracle(),
    doc="Hurst exponent by rescaled-range (R/S) analysis at block "
    "scales 8/16/32 h: integer n-scaled cumulative deviations, exact "
    "moment std, per-block R/S quantized at 1e-9, log-log slope via "
    "precomputed OLS literals — H>0.5 = persistent (trending), "
    "H<0.5 = mean-reverting",
)
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-memory diagnosis: the Hurst exponent says whether the
    hourly series trends (H > 0.5 — shocks persist; naive CI widths
    are wrong), mean-reverts (H < 0.5), or random-walks (H ≈ 0.5).
    Classic R/S: per block of s hours, the range of cumulative
    deviations over the block std, averaged per scale; H is the
    log-log slope across scales. Engine discipline: cumulative
    deviations are n-scaled exact integers (s·cumsum − k·total),
    the std uses the integer moment form, each block's R/S is ONE
    float division quantized at 1e-9 before the per-scale integer
    mean, and the 3-point OLS slope collapses to a precomputed
    literal times ln(rs₃₂/rs₈) — two lns, one multiply, quantized.

    Scale: three windowed passes over the hourly rollup (O(hours)
    rows; per-key at 100 TB), block groupBys are bounded. Incomplete
    tail blocks are excluded (bn = s), degenerate blocks (zero
    variance) dropped.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("h")
        .agg(F.sum("qv").cast("decimal(38,0)").alias("sq"))
    )
    hh = hourly.select(
        "h",
        "sq",
        (
            F.row_number().over(Window.partitionBy(one_part("h")).orderBy("h"))
            - 1
        ).alias("ridx"),
    )
    per_scale = []
    for s in _HURST_SCALES:
        blk = F.expr(f"ridx div {s}")
        wb = Window.partitionBy(blk)
        wo = Window.partitionBy(blk).orderBy("h").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        b = hh.select(
            blk.alias("blk"),
            (
                F.lit(s) * F.sum("sq").over(wo)
                - F.row_number().over(
                    Window.partitionBy(blk).orderBy("h")
                )
                * F.sum("sq").over(wb)
            ).alias("cd"),
            F.sum(F.col("sq") * F.col("sq")).over(wb).alias("sxx"),
            F.sum("sq").over(wb).alias("sx"),
            F.count(F.lit(1)).over(wb).alias("bn"),
        ).filter(F.col("bn") == s)
        g = (
            b.groupBy("blk")
            .agg(
                F.max("cd").alias("cmax"),
                F.min("cd").alias("cmin"),
                F.max("sxx").alias("sxx"),
                F.max("sx").alias("sx"),
            )
            .filter(
                F.col("sxx") * F.lit(s) - F.col("sx") * F.col("sx") > 0
            )
            .select(
                F.floor(
                    dec_to_double(F.col("cmax") - F.col("cmin"))
                    / F.sqrt(
                        dec_to_double(
                            F.col("sxx") * F.lit(s)
                            - F.col("sx") * F.col("sx")
                        )
                    )
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("rsq")
            )
        )
        per_scale.append(
            g.agg(
                F.lit(s).alias("scale"),
                F.expr("sum(rsq) div count(1)").cast("long").alias("rs_q"),
            )
        )
    rs = per_scale[0]
    for df in per_scale[1:]:
        rs = rs.unionByName(df)
    pick = lambda s: F.max(  # noqa: E731
        F.when(F.col("scale") == s, F.col("rs_q"))
    ).cast("double") / F.lit(1e9)
    return rs.agg(
        pick(8).alias("rs_8"),
        pick(16).alias("rs_16"),
        pick(32).alias("rs_32"),
        (
            F.floor(
                F.lit(_HURST_C)
                * (F.log(pick(32)) - F.log(pick(8)))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("hurst"),
    )


# ---------- ts_xcorr_leadlag ----------

_XCORR_LAGS = (-3, -2, -1, 0, 1, 2, 3)


@register(
    "ts_xcorr_leadlag",
    f"""
    WITH hr AS (
      SELECT event_type,
             epoch_us(CAST(date_trunc('hour', {{EVENTS_TS}}) AS TIMESTAMP))
               // 3600000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT h, CAST(SUM(c) AS BIGINT) AS tc FROM hr GROUP BY h
    ), lags(k) AS (VALUES {", ".join(f"({k})" for k in _XCORR_LAGS)}),
    pairs AS (
      SELECT a.event_type, l.k,
             CAST(a.c AS HUGEINT) AS x, CAST(t.tc AS HUGEINT) AS y
      FROM hr a
      CROSS JOIN lags l
      JOIN tot t ON t.h = a.h + l.k
    ), m AS (
      SELECT event_type, k, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs GROUP BY event_type, k
    ), r AS (
      SELECT event_type, CAST(k AS BIGINT) AS lag_hours,
             CAST(n AS BIGINT) AS n_pairs,
             CAST(FLOOR((CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                / SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
                * 1000000.0 + 0.5) AS BIGINT) AS xq
      FROM m WHERE n > 1
    )
    SELECT event_type, lag_hours, n_pairs,
           CAST(xq AS DOUBLE) / 1000000.0 AS xcorr,
           COALESCE(xq = MAX(xq) OVER (PARTITION BY event_type), FALSE)
             AS is_peak
    FROM r
    """.replace("{EVENTS_TS}", EVENTS_TS_SQL),
    doc=f"lead/lag cross-correlation of each event type's hourly volume "
    f"against total hourly traffic at lags {_XCORR_LAGS}: negative peak "
    "lag = the type LEADS overall traffic (an early-warning signal), "
    "positive = it follows — exact-integer-moment Pearson per lag with "
    "the within-type peak flagged",
)
def ts_xcorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag detector: which event type's volume moves BEFORE the
    overall traffic level? Classic ops/forecasting diagnostic — the
    cross-correlation function (CCF) between each type's hourly count
    series and the total-traffic series, evaluated at small negative
    and positive lags; the argmax lag says who leads whom (the
    companion to ``agg_acf_lags``, which is the self-correlation).

    Both series are exact integer counts, so every Pearson moment is
    an exact HUGEINT/decimal sum (``agg_corr`` pattern) and the only
    float op is the final quantized division — bit-stable across
    engines. The peak flag compares the quantized-integer xcorr, not
    raw doubles, so ties break identically on both sides.

    Scale: facts collapse to the (type, hour) spine in one map-side-
    combined pass; the lag fan-out is spine×7 rows, joined to the
    hour-level totals (a tiny table, broadcast) — no fact-side
    shuffle beyond the first aggregation, per-(type, lag) state is
    five integers.
    """
    ev = load(spark, "events", sf_dir)
    hr = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
            "h"
        ),
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = hr.groupBy("h").agg(F.sum("c").alias("tc"))
    lags = F.broadcast(
        literal_df(spark, [(k,) for k in _XCORR_LAGS], "k int")
    )
    a = hr.select(
        "event_type", "h", F.col("c").cast("decimal(38,0)").alias("x")
    ).crossJoin(lags)
    b = F.broadcast(
        tot.select(
            F.col("h").alias("b_h"),
            F.col("tc").cast("decimal(38,0)").alias("y"),
        )
    )
    pairs = a.join(b, F.col("b_h") == F.col("h") + F.col("k"))
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
    r = m.filter(F.col("n") > 1).select(
        "event_type",
        F.col("k").cast("long").alias("lag_hours"),
        F.col("n").cast("long").alias("n_pairs"),
        F.floor(num / den * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    )
    wpk = Window.partitionBy("event_type")
    return r.select(
        "event_type",
        "lag_hours",
        "n_pairs",
        (F.col("xq").cast("double") / 1000000.0).alias("xcorr"),
        F.coalesce(
            F.col("xq") == F.max("xq").over(wpk), F.lit(False)
        ).alias("is_peak"),
    )


# ---------- ts_mann_kendall ----------


@register(
    "ts_mann_kendall",
    f"""
    WITH series AS (
      SELECT event_type,
             epoch_us(CAST(date_trunc('hour', {{EVENTS_TS}}) AS TIMESTAMP))
               // 3600000000 AS h,
             CAST(FLOOR((CAST(CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5)
               AS HUGEINT)) AS VARCHAR) AS DOUBLE) / COUNT(*)) + 0.5)
               AS BIGINT) AS mq
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.mq > a.mq THEN 1
                           WHEN b.mq < a.mq THEN -1 ELSE 0 END)
               AS BIGINT) AS s_stat
      FROM series a JOIN series b
        ON b.event_type = a.event_type AND b.h > a.h
      GROUP BY 1
    ), n AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n FROM series
      GROUP BY 1
    ), ties AS (
      SELECT event_type,
             SUM(t * (t - 1) * (2 * t + 5)) AS tie_sum
      FROM (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS t
            FROM series GROUP BY event_type, mq) g
      GROUP BY 1
    ), m AS (
      SELECT n.event_type, CAST(n.n AS BIGINT) AS n_hours,
             COALESCE(s.s_stat, 0) AS s_stat,
             CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                  - COALESCE(ties.tie_sum, 0) AS BIGINT) AS var_s18
      FROM n LEFT JOIN s USING (event_type)
             LEFT JOIN ties USING (event_type)
    ), z AS (
      SELECT event_type, n_hours, s_stat, var_s18,
             CASE WHEN var_s18 <= 0 OR s_stat = 0 THEN CAST(0 AS BIGINT)
                  WHEN s_stat > 0 THEN CAST(FLOOR(
                    (CAST(s_stat - 1 AS DOUBLE)
                     / SQRT(CAST(var_s18 AS DOUBLE) / 18.0))
                    * 1000000.0 + 0.5) AS BIGINT)
                  ELSE CAST(FLOOR(
                    (CAST(s_stat + 1 AS DOUBLE)
                     / SQRT(CAST(var_s18 AS DOUBLE) / 18.0))
                    * 1000000.0 + 0.5) AS BIGINT)
             END AS zq
      FROM m
    )
    SELECT event_type, n_hours, s_stat, var_s18,
           CAST(zq AS DOUBLE) / 1000000.0 AS z,
           CASE WHEN zq >= 1960000 THEN 'increasing'
                WHEN zq <= -1960000 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z
    """.replace("{EVENTS_TS}", EVENTS_TS_SQL),
    doc="Mann-Kendall nonparametric trend test per event-type hourly "
    "series: exact integer S = sum of pairwise signs, tie-corrected "
    "variance as the exact integer 18*Var(S), continuity-corrected z "
    "(quantized 1e-6) and the |z|>=1.96 monotone-trend verdict — the "
    "distribution-free companion to agg_theil_sen's slope",
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard 'is this series monotonically trending' test that
    needs no normality or linearity assumption — S counts concordant
    minus discordant hour pairs, the tie-corrected variance
    n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18 comes straight from the
    quantized-mean tie groups, and the continuity-corrected
    z = (S-sgn(S))/sqrt(Var) gates the verdict at 1.96 (5% two-sided).
    Pairs with agg_theil_sen: MK says WHETHER there is a trend,
    Theil-Sen says HOW STEEP.

    Everything through Var(S) is exact integer arithmetic (the 18x
    numerator stays integral, emitted as ``var_s18``); z is one
    correctly-rounded division + sqrt, floor-quantized at 1e-6, and
    the verdict compares the QUANTIZED integer zq against +/-1960000
    so both engines branch identically.

    Scale: the O(n^2) pair join is per-series over HOURLY buckets
    (n = hours, bounded by the calendar, not by facts — the corpus
    collapsed in the first map-side-combined aggregation); sign
    counting combines map-side. For decade-long series, stride or
    block the left side as in agg_theil_sen.
    """
    ev = load(spark, "events", sf_dir)
    series = ev.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
            "h"
        ),
    ).agg(
        F.floor(
            F.sum(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
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
    b = F.broadcast(
        series.select(
            F.col("event_type").alias("et_b"),
            F.col("h").alias("hb"),
            F.col("mq").alias("mqb"),
        )
    )  # calendar-bounded spine — broadcast the lagged side
    s = (
        series.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("hb") > F.col("h")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("mqb") > F.col("mq"), F.lit(1))
                .when(F.col("mqb") < F.col("mq"), F.lit(-1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = F.col("n").cast("decimal(38,0)")
    n = series.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        series.groupBy("event_type", "mq")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_sum")
        )
    )
    m = (
        n.join(s, "event_type", "left")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.coalesce(F.col("s_stat"), F.lit(0)).alias("s_stat"),
            (
                nn * (nn - 1) * (2 * nn + 5)
                - F.coalesce(F.col("tie_sum"), F.lit(0).cast("decimal(38,0)"))
            )
            .cast("long")
            .alias("var_s18"),
        )
    )
    sd = F.sqrt(F.col("var_s18").cast("double") / F.lit(18.0))
    zq = (
        F.when(
            (F.col("var_s18") <= 0) | (F.col("s_stat") == 0), F.lit(0)
        )
        .when(
            F.col("s_stat") > 0,
            F.floor(
                (F.col("s_stat") - 1).cast("double") / sd * F.lit(1e6)
                + F.lit(0.5)
            ),
        )
        .otherwise(
            F.floor(
                (F.col("s_stat") + 1).cast("double") / sd * F.lit(1e6)
                + F.lit(0.5)
            )
        )
        .cast("long")
    )
    return m.select(
        "event_type",
        "n_hours",
        "s_stat",
        "var_s18",
        (zq.cast("double") / F.lit(1e6)).alias("z"),
        F.when(zq >= 1960000, F.lit("increasing"))
        .when(zq <= -1960000, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


# ---------- Haar wavelet energy (dyadic multi-resolution) ----------

_HAAR_LEVELS = (1, 2, 3)
_HAAR_PRESCALE = 4096  # detail div 4096 before squaring (see Scale note)


@register(
    "ts_haar_energy",
    f"""
    WITH hourly AS (
      SELECT epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) AS BIGINT) AS sq
      FROM events GROUP BY 1
    ),
    base AS (SELECT h - (SELECT MIN(h) FROM hourly) AS pos, sq FROM hourly),
    lv AS (SELECT unnest([{", ".join(str(v) for v in _HAAR_LEVELS)}]) AS level),
    d AS (
      SELECT lv.level, base.pos // (1 << lv.level) AS blk,
             SUM(CASE WHEN (base.pos % (1 << lv.level))
                           < (1 << (lv.level - 1))
                      THEN base.sq ELSE -base.sq END) AS det
      FROM lv, base GROUP BY lv.level, blk
    ),
    ds AS (SELECT level, blk,
           CAST(det // {_HAAR_PRESCALE} AS BIGINT) AS dsc FROM d)
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CAST(dsc AS HUGEINT) * dsc) AS BIGINT) AS energy_scaled,
           CAST(MAX(ABS(dsc)) AS BIGINT) AS max_abs_detail
    FROM ds GROUP BY level
    """,
    doc="Haar wavelet detail energy at dyadic levels 1-3 over the "
    "hourly value series: unnormalized half-block differences, "
    "prescaled exact integer squares — the multi-resolution "
    "burst-localization spectrum beside ts_fourier_power's "
    "fixed-frequency view",
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic multi-resolution analysis without any float transform:
    the level-k Haar detail of block b is (sum of the block's first
    half) − (second half), computed as one conditional-sign aggregate
    over hour positions (missing hours contribute exactly 0 — no gap
    fill needed). Energy per level = Σ detail² localizes WHERE
    variance lives in scale-space: spiky traffic loads level 1, slow
    drifts load deeper levels.

    Determinism/overflow: details are exact micro-unit integers;
    they are pre-scaled (div 4096, truncation identical on both
    engines) before squaring so the squared sum fits the BIGINT
    output at this data scale; the square-sum itself runs in HUGEINT
    (DuckDB) / decimal(38,0) (Spark) per the big-moments rule. At
    100 TB raise the prescale with expected hourly magnitude — one
    constant, same plan.

    Scale: one hour-bucketed aggregate (map-side combined), then a
    level×block aggregate whose output is n_hours/2^k rows — tiny.
    The 3-level fan-out multiplies the HOURLY series, not the facts.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr(
                "cast(unix_micros(cast(ts as timestamp)) div 3600000000 "
                "as long)"
            ).alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("h")
        .agg(F.sum("qv").cast("long").alias("sq"))
    )
    hmin = hourly.agg(F.min("h").alias("hmin"))
    base = hourly.crossJoin(F.broadcast(hmin)).select(
        (F.col("h") - F.col("hmin")).alias("pos"), "sq"
    )
    levels = literal_df(spark, [(v,) for v in _HAAR_LEVELS], "level long")
    d = (
        base.crossJoin(F.broadcast(levels))
        .groupBy(
            "level",
            F.expr("pos div (1 << cast(level as int))").alias("blk"),
        )
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "pos % (1 << cast(level as int)) "
                        "< (1 << (cast(level as int) - 1))"
                    ),
                    F.col("sq"),
                ).otherwise(-F.col("sq"))
            ).alias("det")
        )
    )
    ds = d.select(
        "level",
        F.expr(f"cast(det div {_HAAR_PRESCALE} as bigint)").alias("dsc"),
    )
    return ds.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.expr(
            "cast(sum(cast(dsc as decimal(38,0)) * dsc) as bigint)"
        ).alias("energy_scaled"),
        F.max(F.abs(F.col("dsc"))).cast("long").alias("max_abs_detail"),
    ).select(F.col("level").cast("long").alias("level"), "n_blocks", "energy_scaled", "max_abs_detail")


# ---------- SAX symbolic approximation (symbolic TS indexing) ----------

_SAX_BLOCK = 4  # hours per PAA block
_SAX_WORD = 4   # PAA blocks per SAX word


@register(
    "ts_sax_words",
    f"""
    WITH hourly AS (
      SELECT event_type,
             epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) // COUNT(*) AS BIGINT) AS m
      FROM events GROUP BY 1, 2
    ),
    paa AS (
      SELECT event_type, h // {_SAX_BLOCK} AS blk,
             CAST(SUM(m) // COUNT(*) AS BIGINT) AS v
      FROM hourly GROUP BY 1, 2
    ),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
          COUNT(*) OVER () AS nn FROM paa),
    bp AS (SELECT
      MAX(CASE WHEN rn = (1 * (nn - 1)) // 4 + 1 THEN v END) AS b1,
      MAX(CASE WHEN rn = (2 * (nn - 1)) // 4 + 1 THEN v END) AS b2,
      MAX(CASE WHEN rn = (3 * (nn - 1)) // 4 + 1 THEN v END) AS b3
      FROM r),
    sym AS (
      SELECT event_type, blk,
             CASE WHEN v <= bp.b1 THEN 'a' WHEN v <= bp.b2 THEN 'b'
                  WHEN v <= bp.b3 THEN 'c' ELSE 'd' END AS s
      FROM paa CROSS JOIN bp
    ),
    words AS (
      SELECT event_type,
             s || LEAD(s, 1) OVER w || LEAD(s, 2) OVER w
               || LEAD(s, 3) OVER w AS word
      FROM sym
      WINDOW w AS (PARTITION BY event_type ORDER BY blk)
    )
    SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n
    FROM words WHERE word IS NOT NULL
    GROUP BY event_type, word
    ORDER BY n DESC, event_type, word LIMIT 15
    """,
    doc=f"SAX symbolic approximation: {_SAX_BLOCK}-hour PAA means, "
    "exact-rank quartile breakpoints, alphabet a-d, sliding "
    f"{_SAX_WORD}-symbol words per series — top-15 recurring motifs; "
    "the symbolic index behind wholesale TS similarity search",
)
def ts_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Lin et al. 2003) done relationally: hourly means →
    Piecewise Aggregate Approximation (integer block means) → global
    quartile breakpoints picked at EXACT ranks (two-level rank-target
    helper — SAX normally uses Gaussian breakpoints, but rank
    quartiles are distribution-free and integer-exact) → 4-letter
    alphabet → sliding 4-symbol words per series via leads. Recurring
    words are motifs; rare words are discords — the classic symbolic
    pre-filter for TS similarity search.

    Scale: two map-side-combined downsampling aggregates shrink the
    facts ~16×, the 3-value breakpoint table broadcasts, and the word
    window is per-series. Top-15 is TakeOrderedAndProject.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                "cast(unix_micros(cast(ts as timestamp)) div 3600000000 "
                "as long)"
            ).alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("event_type", "h")
        .agg(F.expr("cast(sum(qv) div count(*) as bigint)").alias("m"))
    )
    paa = pin(
        hourly.groupBy(
            "event_type", F.expr(f"h div {_SAX_BLOCK}").alias("blk")
        ).agg(F.expr("cast(sum(m) div count(*) as bigint)").alias("v"))
    )
    bp = (
        with_rank_targets(
            paa.select("v"), "v", (),
            [f"({k} * (nn - 1)) div 4 + 1" for k in (1, 2, 3)],
        )
        .groupBy()
        .agg(
            F.max(F.when(F.col("tid") == 0, F.col("value"))).alias("b1"),
            F.max(F.when(F.col("tid") == 1, F.col("value"))).alias("b2"),
            F.max(F.when(F.col("tid") == 2, F.col("value"))).alias("b3"),
        )
    )
    sym = paa.crossJoin(F.broadcast(bp)).select(
        "event_type",
        "blk",
        F.when(F.col("v") <= F.col("b1"), "a")
        .when(F.col("v") <= F.col("b2"), "b")
        .when(F.col("v") <= F.col("b3"), "c")
        .otherwise("d")
        .alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("blk")
    words = sym.select(
        "event_type",
        F.concat(
            F.col("s"),
            F.lead("s", 1).over(w),
            F.lead("s", 2).over(w),
            F.lead("s", 3).over(w),
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    return (
        words.groupBy("event_type", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "event_type", "word")
        .limit(15)
    )


# ---------- hierarchical forecast reconciliation (top-down) ----------


@register(
    "ts_forecast_reconcile",
    f"""
    WITH d AS (SELECT event_type, CAST({EVENTS_TS_SQL} AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    tgt AS (SELECT MAX(day) AS t FROM d),
    actual AS (SELECT event_type, n AS actual FROM d, tgt WHERE day = t),
    fc_b AS (SELECT event_type, n AS fc_bottom FROM d, tgt
             WHERE day = t - 7),
    tot_fc AS (SELECT CAST(SUM(n) AS BIGINT) AS tf FROM d, tgt
               WHERE day = t - 7),
    hist AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS h
             FROM d, tgt WHERE day >= t - 28 AND day < t GROUP BY 1),
    share AS (SELECT event_type,
              CAST(h * 1000000 // (SELECT SUM(h) FROM hist) AS BIGINT)
                AS share_ppm FROM hist)
    SELECT a.event_type, a.actual, b.fc_bottom,
           CAST(s.share_ppm AS BIGINT) AS share_ppm,
           CAST(t.tf * s.share_ppm // 1000000 AS BIGINT) AS fc_topdown,
           CAST(ABS(b.fc_bottom - a.actual) AS BIGINT) AS err_bottom,
           CAST(ABS(t.tf * s.share_ppm // 1000000 - a.actual) AS BIGINT)
             AS err_topdown
    FROM actual a
    JOIN fc_b b ON b.event_type = a.event_type
    JOIN share s ON s.event_type = a.event_type
    CROSS JOIN tot_fc t
    """,
    doc="hierarchical forecast reconciliation: seasonal-naive (t−7) "
    "per-series forecasts vs top-down (aggregate forecast distributed "
    "by trailing-28d integer-ppm shares) for the latest day, with "
    "per-series absolute errors — the coherent-forecasting pattern "
    "(Hyndman) in exact integers",
)
def ts_forecast_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two classic ways to forecast a hierarchy, audited against the
    realized day: bottom-up = each series' own seasonal-naive lag-7
    value; top-down = the TOTAL's lag-7 forecast split by trailing
    28-day proportions (integer ppm, truncating — deterministic).
    The per-series |error| columns let a scheduler pick the coherent
    strategy per hierarchy; top-down wins when series are noisy but
    the mix is stable — visible directly in the output.

    Scale: one (type, day) aggregate (map-side combined), then
    day-predicate self-reads of that tiny table and 1-row/5-row
    broadcasts. Facts are scanned once.
    """
    ev = load(spark, "events", sf_dir)
    d = pin(
        ev.select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tgt = d.agg(F.max("day").alias("t"))
    dd = d.crossJoin(F.broadcast(tgt))
    actual = dd.filter(F.col("day") == F.col("t")).select(
        "event_type", F.col("n").alias("actual")
    )
    fc_b = dd.filter(F.col("day") == F.expr("t - interval 7 days")).select(
        "event_type", F.col("n").alias("fc_bottom")
    )
    tot_fc = (
        dd.filter(F.col("day") == F.expr("t - interval 7 days"))
        .agg(F.sum("n").cast("long").alias("tf"))
    )
    hist = (
        dd.filter(
            (F.col("day") >= F.expr("t - interval 28 days"))
            & (F.col("day") < F.col("t"))
        )
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("h"))
    )
    htot = hist.agg(F.sum("h").cast("long").alias("ht"))
    share = hist.crossJoin(F.broadcast(htot)).select(
        "event_type",
        F.expr(
            "cast(cast(h as decimal(38,0)) * 1000000 div ht as bigint)"
        ).alias("share_ppm"),
    )
    return (
        actual.join(F.broadcast(fc_b), "event_type")
        .join(F.broadcast(share), "event_type")
        .crossJoin(F.broadcast(tot_fc))
        .select(
            "event_type",
            "actual",
            "fc_bottom",
            "share_ppm",
            F.expr(
                "cast(cast(tf as decimal(38,0)) * share_ppm div 1000000 "
                "as bigint)"
            ).alias("fc_topdown"),
            F.abs(F.col("fc_bottom") - F.col("actual"))
            .cast("long")
            .alias("err_bottom"),
            F.expr(
                "cast(abs(cast(tf as decimal(38,0)) * share_ppm "
                "div 1000000 - actual) as bigint)"
            ).alias("err_topdown"),
        )
    )


# ---------- log-rank test (survival-curve comparison) ----------


@register(
    "ts_logrank_test",
    f"""
    WITH u AS (
      SELECT user_id,
             (MAX(epoch_us({EVENTS_TS_SQL}))
              - MIN(epoch_us({EVENTS_TS_SQL}))) // 86400000000 AS tenure_d,
             user_id % 2 AS grp
      FROM events GROUP BY user_id
    ),
    k AS (
      SELECT tenure_d, CAST(COUNT(*) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1
      FROM u GROUP BY tenure_d
    ),
    r AS (
      SELECT tenure_d, d, d1,
             CAST(SUM(d) OVER (ORDER BY tenure_d DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
             CAST(SUM(d1) OVER (ORDER BY tenure_d DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n1
      FROM k
    ),
    terms AS (
      SELECT d1,
             CAST((CAST(d AS HUGEINT) * n1 * 1000000) // n AS BIGINT)
               AS e1q,
             CASE WHEN n > 1 THEN
               CAST((CAST(d AS HUGEINT) * (n - d) * n1 * (n - n1)
                     * 1000000)
                    // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS vq
      FROM r
    ),
    agg AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(e1q) AS BIGINT) AS e1_q6,
             CAST(SUM(vq) AS BIGINT) AS var_q6
      FROM terms
    )
    , dd AS (
      SELECT o1, e1_q6, var_q6,
             CAST(o1 AS HUGEINT) * 1000000 - e1_q6 AS diffq
      FROM agg
    )
    SELECT o1, e1_q6, var_q6,
           CAST(CAST(diffq * diffq AS VARCHAR) AS DOUBLE)
             / (CAST(var_q6 AS DOUBLE) * 1000000.0) AS chi2_raw,
           CAST(FLOOR(CAST(CAST(diffq * diffq AS VARCHAR) AS DOUBLE)
             / (CAST(var_q6 AS DOUBLE) * 1000000.0) * 1000.0)
             AS BIGINT) AS chi2_milli
    FROM dd
    """,
    doc="log-rank test comparing churn survival between the two "
    "user-id parity cohorts: O−E over the shared event-time spine "
    "with hypergeometric variance, every rational term quantized at "
    "1e-6 before summing — the standard A/B survival comparison "
    "beside Kaplan-Meier's single-curve view",
)
def ts_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Cox log-rank: at each distinct tenure t, group A's
    expected deaths are d_t·n1_t/n_t and the variance term is the
    hypergeometric d(n−d)n1(n−n1)/(n²(n−1)); χ² = (O−E)²/V. Every
    per-time rational is floor-quantized at 1e-6 BEFORE the sum (the
    chi2/entropy convention) and products run in decimal(38,0)/
    HUGEINT, so O, E, V are exact integers on both engines; the final
    χ² division is one correctly-rounded float (numerator enters via
    the exact-integer → string → double path).

    Scale: the per-user tenure aggregate is the only fact-scale pass;
    the time spine (distinct tenure days) is calendar-bounded, so its
    suffix-sum windows are intentionally single-partition
    (``one_part``) per the bounded-spine convention.
    """
    ev = load(spark, "events", sf_dir)
    u = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "cast((max(unix_micros(cast(ts as timestamp))) - "
                "min(unix_micros(cast(ts as timestamp)))) div 86400000000 "
                "as long)"
            ).alias("tenure_d")
        )
        .select("tenure_d", (F.col("user_id") % 2).alias("grp"))
    )
    k = u.groupBy("tenure_d").agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("d1"),
    )
    wsuf = (
        Window.partitionBy(one_part("tenure_d"))
        .orderBy(F.desc("tenure_d"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = k.select(
        "d",
        "d1",
        F.sum("d").over(wsuf).cast("long").alias("n"),
        F.sum("d1").over(wsuf).cast("long").alias("n1"),
    )
    terms = r.select(
        "d1",
        F.expr(
            "cast(cast(d as decimal(38,0)) * n1 * 1000000 div n as bigint)"
        ).alias("e1q"),
        F.expr(
            "case when n > 1 then cast(cast(d as decimal(38,0)) * (n - d) "
            "* n1 * (n - n1) * 1000000 div "
            "(cast(n as decimal(38,0)) * n * (n - 1)) as bigint) "
            "else 0 end"
        ).alias("vq"),
    )
    agg = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1q").cast("long").alias("e1_q6"),
        F.sum("vq").cast("long").alias("var_q6"),
    )
    dd = agg.withColumn(
        "diffq",
        F.expr("cast(o1 as decimal(38,0)) * 1000000 - e1_q6"),
    )
    chi2 = F.expr(
        "cast(cast(cast(diffq * diffq as decimal(38,0)) as string) "
        "as double) / (cast(var_q6 as double) * 1000000.0)"
    )
    return dd.select(
        "o1",
        "e1_q6",
        "var_q6",
        chi2.alias("chi2_raw"),
        F.floor(chi2 * F.lit(1000.0)).cast("long").alias("chi2_milli"),
    )


# ---------- binary-segmentation changepoint (optimal single split) ----------


@register(
    "ts_binseg_changepoint",
    f"""
    WITH hourly AS (
      SELECT epoch_us({EVENTS_TS_SQL}) // 3600000000 AS h,
             CAST(SUM({_Q6}) // 65536 AS BIGINT) AS sq
      FROM events GROUP BY 1
    ),
    r AS (SELECT h, sq,
          ROW_NUMBER() OVER (ORDER BY h) AS i,
          COUNT(*) OVER () AS n,
          SUM(sq) OVER (ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
          SUM(sq) OVER () AS st
          FROM hourly),
    cand AS (
      SELECT h, i, n,
             CAST((CAST(cs AS HUGEINT) * cs) // i
                  + (CAST(st - cs AS HUGEINT) * (st - cs)) // (n - i)
                  AS BIGINT) AS fq
      FROM r WHERE i < n
    ),
    best AS (
      SELECT h AS split_h, i AS split_i, n, fq,
             ROW_NUMBER() OVER (ORDER BY fq DESC, h) AS rk
      FROM cand
    )
    SELECT CAST(split_h AS BIGINT) AS split_h,
           CAST(split_i AS BIGINT) AS split_i,
           CAST(n AS BIGINT) AS n_hours,
           CAST(fq AS BIGINT) AS gain_scaled
    FROM best WHERE rk = 1
    """,
    doc="binary-segmentation changepoint: the single split of the "
    "hourly series maximizing between-segment variance explained "
    "(argmax of S_L²/n_L + S_R²/n_R over exact integer prefix sums, "
    "prescaled div 2^16) — the optimal-split detector "
    "beside CUSUM's sequential one; recursing on each side yields "
    "the full binseg tree",
)
def ts_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal single changepoint: minimizing split SSE is equivalent
    to maximizing f(t) = S_L²/n_L + S_R²/n_R (prefix sums S over the
    hour order). Every candidate's objective is exact integer
    arithmetic on div-2^16-prescaled sums (squares in HUGEINT/
    decimal(38,0), truncating division — deterministic, h tie-break),
    so the argmax is bit-identical across engines. Full binseg
    recursion reruns this op per segment with a localCheckpoint per
    level (the iterative convention).

    Scale: the hourly series comes from one map-side-combined
    aggregate; ranks and prefix sums are the two-phase helpers (no
    single-executor sort); the argmax is orderBy().limit(1) →
    TakeOrderedAndProject.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr(
                "cast(unix_micros(cast(ts as timestamp)) div 3600000000 "
                "as long)"
            ).alias("h"),
            F.expr(_Q6).alias("qv"),
        )
        .groupBy("h")
        # prescale div 2^16: f = S^2/n at corpus scale would pass int64
        # (the CLAUDE.md pre-scale rule); truncation is deterministic
        .agg(F.expr("cast(sum(qv) div 65536 as bigint)").alias("sq"))
    )
    hourly = pin(hourly)
    ranked = with_total_rank(hourly, "h", (), rn="i", nn="n")
    cs = with_prefix_agg(ranked, "h", (), "sq", kind="sum", out="cs")
    st = hourly.agg(F.sum("sq").cast("long").alias("st"))
    cand = (
        cs.crossJoin(F.broadcast(st))
        .filter(F.col("i") < F.col("n"))
        .select(
            "h",
            "i",
            "n",
            F.expr(
                "cast(cs as decimal(38,0)) * cs div i "
                "+ cast(st - cs as decimal(38,0)) * (st - cs) div (n - i)"
            ).alias("fq"),
        )
    )
    return (
        cand.orderBy(F.desc("fq"), "h")
        .limit(1)
        .select(
            F.col("h").cast("long").alias("split_h"),
            F.col("i").cast("long").alias("split_i"),
            F.col("n").cast("long").alias("n_hours"),
            F.col("fq").cast("long").alias("gain_scaled"),
        )
    )


# ---------- MASE forecast-accuracy evaluation ----------


@register(
    "ts_mase",
    f"""
    WITH d AS (SELECT event_type, CAST({EVENTS_TS_SQL} AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    l AS (SELECT event_type, day, n,
          LAG(n, 7) OVER w AS fc,
          LAG(n, 1) OVER w AS naive
          FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    e AS (SELECT event_type,
          CAST(SUM(ABS(n - fc)) AS BIGINT) AS sae_fc,
          CAST(COUNT(fc) AS BIGINT) AS n_fc,
          CAST(SUM(CASE WHEN fc IS NOT NULL THEN ABS(n - naive) END)
               AS BIGINT) AS sae_naive
          FROM l GROUP BY event_type)
    SELECT event_type, n_fc, sae_fc, sae_naive,
           CAST(sae_fc * 1000000 // NULLIF(sae_naive, 0) AS BIGINT)
             AS mase_ppm
    FROM e
    """,
    doc="MASE forecast accuracy per series: seasonal-naive (t−7) "
    "forecast's absolute errors scaled by the one-step naive "
    "benchmark over the SAME evaluation rows, integer-ppm — the "
    "scale-free accuracy measure that makes series comparable "
    "(Hyndman & Koehler 2006); mase < 1e6 means the forecast beats "
    "naive",
)
def ts_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Absolute Scaled Error (the SCALE-FREE score beside
    ts_forecast_eval's absolute MAE/bias/MAPE — MASE divides by the
    in-sample naive benchmark, making series of any magnitude
    comparable): |y − ŷ| summed over evaluable days
    divided by the in-sample one-step-naive error sum on the same
    rows — the denominator makes the score unit-free, so daily volume
    series of any magnitude compare on one scale. Both error sums are
    exact integer counts; the ratio is one truncating ppm division.

    Scale: one (type, day) aggregate; lag windows are per-series;
    output is |types| rows. The same shape scores any forecast column
    joined in place of the lag-7 proxy.
    """
    ev = load(spark, "events", sf_dir)
    d = (
        ev.select(
            "event_type",
            F.col("ts").cast("timestamp").cast("date").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    l = d.select(
        "event_type",
        "n",
        F.lag("n", 7).over(w).alias("fc"),
        F.lag("n", 1).over(w).alias("naive"),
    )
    e = l.groupBy("event_type").agg(
        F.sum(F.abs(F.col("n") - F.col("fc"))).cast("long").alias("sae_fc"),
        F.count("fc").cast("long").alias("n_fc"),
        F.sum(
            F.when(
                F.col("fc").isNotNull(), F.abs(F.col("n") - F.col("naive"))
            )
        )
        .cast("long")
        .alias("sae_naive"),
    )
    return e.select(
        "event_type",
        "n_fc",
        "sae_fc",
        "sae_naive",
        F.expr(
            "cast(cast(sae_fc as decimal(38,0)) * 1000000 "
            "div nullif(sae_naive, 0) as bigint)"
        ).alias("mase_ppm"),
    )


# ---------- dynamic time warping ----------

_DTW_BAND = 3  # Sakoe-Chiba band half-width (days)
_DTW_INF = 1 << 50  # unreachable-cell sentinel (path sums stay << this)


@register(
    "ts_dtw_distance",
    f"""
    WITH RECURSIVE q AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             event_type AS t,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    dm AS (
      SELECT day, t, SUM(qv) // COUNT(*) AS x FROM q GROUP BY day, t
    ),
    kk AS (SELECT COUNT(DISTINCT t) AS k FROM dm),
    full_days AS (
      SELECT day FROM dm, kk GROUP BY day, kk.k HAVING COUNT(*) = MAX(kk.k)
    ),
    ser AS (
      SELECT t, list(x ORDER BY day) AS s
      FROM (SELECT dm.day, dm.t, dm.x FROM dm JOIN full_days USING (day))
      GROUP BY t
    ),
    pairs AS (
      SELECT a.t AS ta, b.t AS tb, a.s AS sa, b.s AS sb,
             len(a.s) AS m
      FROM ser a JOIN ser b ON a.t < b.t
    ),
    base AS (
      SELECT ta, tb, sa, sb, m, 2 AS tt,
             list_transform(range(1, m + 1), i ->
               CASE WHEN i = 1 THEN ABS(sa[1] - sb[1])
                    ELSE {_DTW_INF} END) AS p,
             list_transform(range(1, m + 1), i -> {_DTW_INF}) AS pp
      FROM pairs
    ),
    rec AS (
      SELECT * FROM base
      UNION ALL
      SELECT ta, tb, sa, sb, m, tt + 1,
             list_transform(range(1, m + 1), i ->
               CASE WHEN tt + 1 - i >= 1 AND tt + 1 - i <= m
                         AND ABS(2 * i - (tt + 1)) <= {_DTW_BAND}
                    THEN ABS(sa[CAST(i AS INT)]
                             - sb[CAST(tt + 1 - i AS INT)])
                         + LEAST(
                             p[CAST(i AS INT)],
                             CASE WHEN i > 1 THEN p[CAST(i - 1 AS INT)]
                                  ELSE {_DTW_INF} END,
                             CASE WHEN i > 1 THEN pp[CAST(i - 1 AS INT)]
                                  ELSE {_DTW_INF} END)
                    ELSE {_DTW_INF} END) AS p,
             p AS pp
      FROM rec WHERE tt < 2 * m
    )
    SELECT ta AS type_a, tb AS type_b, CAST(m AS BIGINT) AS n_days,
           CAST(p[CAST(m AS INT)] AS BIGINT) AS dtw_micro,
           CAST(p[CAST(m AS INT)] // (2 * m - 1) AS BIGINT)
             AS dtw_per_step_micro
    FROM rec WHERE tt = 2 * m
    """,
    doc=f"dynamic time warping (Sakoe-Chiba band ±{_DTW_BAND}) "
    "between every pair of event-type daily-mean curves: the full "
    "DP runs as an anti-diagonal fold — cells on one diagonal are "
    "mutually independent, so each step is a pure array transform "
    "over the previous two diagonals (one nested-HOF expression on "
    "Spark, one recursive CTE in the oracle), exact integer micro "
    "costs end to end — the elastic curve distance Euclidean "
    "alignment can't express (shape match despite phase shift)",
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True DTW in one declarative expression: the textbook DP
    D[i][j] = |a_i − b_j| + min(D[i−1][j], D[i][j−1], D[i−1][j−1])
    looks inherently sequential, but cells along an anti-diagonal
    t = i + j depend only on diagonals t−1 and t−2 — so the whole
    table is a FOLD over t whose step is an independent per-cell
    ``transform``. Spark runs it as one nested higher-order-function
    expression (aggregate over diagonals, transform within — whole-
    stage codegen, zero Python, zero shuffle per step); the DuckDB
    oracle is the identical recurrence as a recursive CTE carrying
    the last two diagonals. All arithmetic is exact integer micro
    units — the two engines agree bit-for-bit, sentinel {2^50}
    marking out-of-band cells (path sums stay orders below it).

    The Sakoe-Chiba band (|i−j| ≤ 3 days) is the standard warping
    constraint: it bounds work to O(m·w) useful cells and forbids
    degenerate all-to-one alignments. Series share the complete-day
    spine so lengths match.

    Scale: series are DAY-grain (bounded spine — one map-side
    aggregate off the fact scan); the 10 type pairs each fold a
    ~2m-step expression over m-length arrays. At 100 TB the same op
    runs per (entity, metric) pair after the same daily rollup —
    thousands of independent DP folds, embarrassingly parallel, no
    iteration-scale driver loop (compare graph_k_core's
    localCheckpoint rounds: here the loop lives INSIDE one
    expression because the state is bounded).
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
    kk = dm.agg(F.countDistinct("t").alias("k"))
    full_days = (
        dm.crossJoin(F.broadcast(kk))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("_c"), F.max("k").alias("_k"))
        .filter(F.col("_c") == F.col("_k"))
        .select("day")
    )
    ser = (
        dm.join(F.broadcast(full_days), "day")
        .groupBy("t")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, x))), "
                "e -> e.x)"
            ).alias("s")
        )
    )
    a = ser.select(F.col("t").alias("ta"), F.col("s").alias("sa"))
    b = ser.select(F.col("t").alias("tb"), F.col("s").alias("sb"))
    pairs = a.join(F.broadcast(b), F.col("ta") < F.col("tb")).withColumn(
        "m", F.size("sa")
    )
    inf = str(_DTW_INF)
    w = str(_DTW_BAND)
    # fold over anti-diagonals t = 3 .. 2m; acc carries the previous
    # two diagonals indexed by row i (j = t - i)
    # m = 1 (a single complete day, seen on sparse corpora) must NOT
    # enter the fold: sequence(3L, 2L) DESCENDS [3, 2] (Spark's default
    # step is -1 when start > stop), folding diagonals out of order and
    # returning a sentinel-polluted distance. The DP base case IS the
    # answer there — DTW of two length-1 series is |a1 - b1|, exactly
    # what the oracle's tt = 2*m recursion base yields.
    dp = F.expr(
        f"""
        CASE WHEN m < 2 THEN abs(sa[0] - sb[0]) ELSE
        aggregate(
          sequence(3L, 2L * m),
          named_struct(
            'p', transform(sequence(1L, cast(m as long)), i ->
                   CASE WHEN i = 1 THEN abs(sa[0] - sb[0])
                        ELSE {inf}L END),
            'pp', transform(sequence(1L, cast(m as long)), i -> {inf}L)
          ),
          (acc, tt) -> named_struct(
            'p', transform(sequence(1L, cast(m as long)), i ->
              CASE WHEN tt - i >= 1 AND tt - i <= m
                        AND abs(2 * i - tt) <= {w}
                   THEN abs(element_at(sa, cast(i as int))
                            - element_at(sb, cast(tt - i as int)))
                        + least(
                            element_at(acc.p, cast(i as int)),
                            CASE WHEN i > 1
                                 THEN element_at(acc.p, cast(i - 1 as int))
                                 ELSE {inf}L END,
                            CASE WHEN i > 1
                                 THEN element_at(acc.pp, cast(i - 1 as int))
                                 ELSE {inf}L END)
                   ELSE {inf}L END),
            'pp', acc.p
          ),
          acc -> element_at(acc.p, cast(m as int))
        )
        END
        """
    )
    return pairs.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("m").cast("long").alias("n_days"),
        dp.cast("long").alias("dtw_micro"),
    ).select(
        "type_a",
        "type_b",
        "n_days",
        "dtw_micro",
        F.expr("cast(dtw_micro div (2 * n_days - 1) as bigint)").alias(
            "dtw_per_step_micro"
        ),
    )


# ---------- matrix profile (motif / discord discovery) ----------

_MP_M = 24  # subsequence length: one day of hourly means
_MP_EXCL = _MP_M // 2  # standard trivial-match exclusion zone


@register(
    "ts_matrix_profile",
    f"""
    WITH q AS (
      SELECT event_type AS t,
             epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    ser AS (
      SELECT t, hr, SUM(qv) // COUNT(*) AS y,
             ROW_NUMBER() OVER (PARTITION BY t ORDER BY hr) AS rn,
             COUNT(*) OVER (PARTITION BY t) AS n
      FROM q GROUP BY t, hr
    ),
    s2 AS (
      SELECT t, rn, n,
             SUM(y * y) OVER (PARTITION BY t ORDER BY rn
               ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS ss
      FROM ser
    ),
    win AS (SELECT t, rn, ss FROM s2 WHERE rn <= n - {_MP_M} + 1),
    z AS (
      SELECT a.t, b.rn - a.rn AS d, a.rn AS i, a.y * b.y AS zz
      FROM ser a JOIN ser b
        ON b.t = a.t AND b.rn >= a.rn + {_MP_EXCL}
    ),
    qt AS (
      SELECT t, d, i,
             SUM(zz) OVER (PARTITION BY t, d ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS dot,
             COUNT(*) OVER (PARTITION BY t, d ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {_MP_M - 1} FOLLOWING) AS nw
      FROM z
    ),
    pr AS (
      SELECT q.t, q.i, q.i + q.d AS j,
             wa.ss + wb.ss - 2 * q.dot AS d2
      FROM qt q
      JOIN win wa ON wa.t = q.t AND wa.rn = q.i
      JOIN win wb ON wb.t = q.t AND wb.rn = q.i + q.d
      WHERE q.nw = {_MP_M}
    ),
    bo AS (
      SELECT t, i, j, d2 FROM pr
      UNION ALL SELECT t, j, i, d2 FROM pr
    ),
    mp AS (
      SELECT t, i, d2, j,
             ROW_NUMBER() OVER (PARTITION BY t, i ORDER BY d2, j) AS rk
      FROM bo
    )
    SELECT t AS event_type, CAST(i AS BIGINT) AS win_start,
           CAST(d2 AS BIGINT) AS mp_dist2,
           CAST(j AS BIGINT) AS mp_index
    FROM mp WHERE rk = 1
    """,
    doc=f"matrix profile (window m={_MP_M} hourly means, exclusion "
    f"{_MP_EXCL}) per event-type series: for every window, the exact "
    "integer squared Euclidean distance to its nearest non-trivial "
    "neighbor + that neighbor's index — minima are motifs, maxima are "
    "discords (the anomaly/motif-mining primitive); computed via "
    "per-diagonal sliding dot products (prefix-sum windows), never a "
    "per-pair m-term fold",
)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The matrix profile (Yeh et al. 2016) re-expressed relationally.
    The naive cost is O(n²·m) distance terms; the classic STOMP trick
    — dot products along a diagonal j−i = d share all but one term —
    becomes PURE window algebra here: per diagonal d, the products
    z_k = y_k·y_{k+d} are one self-join row set and every window dot
    QT(i, i+d) is a length-m FOLLOWING-frame sum over them, so the
    whole profile is O(n²) rows with O(1) work each, inside
    whole-stage codegen. Distances stay exact integers on the 1e-3
    grid (unnormalized Euclidean variant: y ≤ 10⁶, m·y² ≤ 2.4·10¹³ ≪
    int64), so min/tie-break (smallest neighbor index) is
    bit-deterministic on both engines.

    The time axis is the per-type dense hour rank (documented: gaps
    in the hour spine are closed up, the standard treatment for
    missing buckets in MP tooling).

    Scale: the hour-grain aggregation is the only fact-scale stage
    (map-side combined). One series then fits one task — a year is
    n ≈ 8 760 int64s, 70 KB — so the STOMP diagonal loop runs as
    vectorized int64 numpy inside ``applyInPandas`` per event type
    (guide §4.2: Spark distributes series, native code does the
    O(n²) arithmetic), replacing a 38M-row-per-series diagonal
    shuffle + window pass whose per-(type) join partitions were the
    skew bound. Exactness: all products/sums stay in int64 (y ≤ 10⁶,
    m·y² ≤ 2.4·10¹³, cumsums ≤ 2·10¹⁷ ≪ 2⁶³) and the (d2, j)
    lexicographic min is applied with the identical tiebreak, so the
    result is bit-equal to the relational form (oracle unchanged).
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        F.col("event_type").alias("t"),
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        F.floor(F.col("value") * 1000.0 + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    ser = q.groupBy("t", "hr").agg(
        F.expr("sum(qv) div count(1)").cast("long").alias("y")
    )

    def stomp(pdf):
        import pandas as pd

        pdf = pdf.sort_values("hr")
        best_d2, best_j, seen = _stomp_core(
            pdf["y"].to_numpy(dtype="int64")
        )
        import numpy as np

        idx = np.nonzero(seen)[0]
        return pd.DataFrame(
            {
                "event_type": pdf["t"].iloc[0],
                "win_start": idx + 1,
                "mp_dist2": best_d2[idx],
                "mp_index": best_j[idx],
            }
        )

    return ser.groupBy("t").applyInPandas(
        stomp,
        "event_type string, win_start long, mp_dist2 long, "
        "mp_index long",
    )


def _stomp_core(y):
    """Int64 STOMP over one series: per window (1-based), the exact
    squared distance and index of its (d2, j)-lexicographic nearest
    admissible neighbor (|j−i| ≥ _MP_EXCL). All arithmetic int64;
    ``seen`` marks windows with at least one admissible pair."""
    import numpy as np

    n = len(y)
    nw = n - _MP_M + 1
    if nw < 1:
        z = np.zeros(0, dtype=np.int64)
        return z, z, np.zeros(0, dtype=bool)
    c2 = np.concatenate(([0], np.cumsum(y * y)))
    ss = c2[_MP_M:] - c2[:-_MP_M]  # length nw
    best_d2 = np.zeros(nw, dtype=np.int64)
    best_j = np.zeros(nw, dtype=np.int64)
    seen = np.zeros(nw, dtype=bool)
    for d in range(_MP_EXCL, n):
        k = nw - d  # valid window pairs (i, i+d), i = 0..k-1
        if k <= 0:
            break
        p = y[: n - d] * y[d:]
        cp = np.concatenate(([0], np.cumsum(p)))
        dot = cp[_MP_M : _MP_M + k] - cp[:k]
        d2 = ss[:k] + ss[d : d + k] - 2 * dot
        ii = np.arange(1, k + 1, dtype=np.int64)  # 1-based i
        jj = ii + d
        # role a: window i sees neighbor j = i + d
        ta, ja, sa = best_d2[:k], best_j[:k], seen[:k]
        up = (~sa) | (d2 < ta) | ((d2 == ta) & (jj < ja))
        best_d2[:k] = np.where(up, d2, ta)
        best_j[:k] = np.where(up, jj, ja)
        seen[:k] = True
        # role b: window j sees neighbor i = j - d
        tb = best_d2[d : d + k]
        jb = best_j[d : d + k]
        sb = seen[d : d + k]
        up = (~sb) | (d2 < tb) | ((d2 == tb) & (ii < jb))
        best_d2[d : d + k] = np.where(up, d2, tb)
        best_j[d : d + k] = np.where(up, ii, jb)
        seen[d : d + k] = True
    return best_d2, best_j, seen


# ---------- Granger causality (lag-1, F-test) ----------


def _granger_moment_sql(y: str, x: str) -> str:
    """Centered-moment aggregate for one direction (does x -> y?)."""
    return f"""
      SELECT '{x}->{y}' AS direction,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM({y}) AS HUGEINT) AS sy,
             CAST(SUM({y}1) AS HUGEINT) AS sy1,
             CAST(SUM({x}1) AS HUGEINT) AS sx1,
             SUM(CAST({y} AS HUGEINT) * {y}) AS syy,
             SUM(CAST({y}1 AS HUGEINT) * {y}1) AS sy1y1,
             SUM(CAST({x}1 AS HUGEINT) * {x}1) AS sx1x1,
             SUM(CAST({y} AS HUGEINT) * {y}1) AS syy1,
             SUM(CAST({y} AS HUGEINT) * {x}1) AS syx1,
             SUM(CAST({y}1 AS HUGEINT) * {x}1) AS sy1x1
      FROM j"""


_GRANGER_F = """
      CAST(n AS BIGINT) AS n_obs,
      CASE WHEN cy1y1 > 0 AND det2 > 0
      THEN FLOOR(
        (CAST(n AS DOUBLE) - 3.0)
        * (CAST(CAST(cyy AS VARCHAR) AS DOUBLE)
             - CAST(CAST(qr AS VARCHAR) AS DOUBLE)
               / CAST(CAST(cy1y1 AS VARCHAR) AS DOUBLE)
           - (CAST(CAST(cyy AS VARCHAR) AS DOUBLE)
              - CAST(CAST(qf AS VARCHAR) AS DOUBLE)
                / CAST(CAST(det2 AS VARCHAR) AS DOUBLE)))
        / (CAST(CAST(cyy AS VARCHAR) AS DOUBLE)
           - CAST(CAST(qf AS VARCHAR) AS DOUBLE)
             / CAST(CAST(det2 AS VARCHAR) AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0
      END AS f_stat
"""


def _granger_sql() -> str:
    def centered(alias: str) -> str:
        return f"""
        SELECT direction, n,
               n * syy - sy * sy AS cyy,
               n * sy1y1 - sy1 * sy1 AS cy1y1,
               n * sx1x1 - sx1 * sx1 AS cx1x1,
               n * syy1 - sy * sy1 AS cyy1,
               n * syx1 - sy * sx1 AS cyx1,
               n * sy1x1 - sy1 * sx1 AS cy1x1
        FROM {alias}"""

    return f"""
    WITH d AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    j AS (
      SELECT c.x AS x, c.y AS y, p.x AS x1, p.y AS y1
      FROM d c JOIN d p ON p.hr = c.hr - 1
    ),
    mxy AS ({_granger_moment_sql('y', 'x')}),
    myx AS ({_granger_moment_sql('x', 'y')}),
    cen AS ({centered('mxy')} UNION ALL {centered('myx')}),
    fin AS (
      SELECT direction, n, cyy, cy1y1,
             cyy1 * cyy1 AS qr,
             cy1y1 * cx1x1 - cy1x1 * cy1x1 AS det2,
             cyy1 * cyy1 * cx1x1
               - 2 * cyy1 * cyx1 * cy1x1
               + cyx1 * cyx1 * cy1y1 AS qf
      FROM cen
    )
    SELECT direction, {_GRANGER_F}
    FROM fin
    """


@register(
    "ts_granger_causality",
    _granger_sql(),
    doc="Granger causality (lag-1 VAR) between the click and error "
    "hourly count series, BOTH directions: restricted (y ~ y_lag) vs "
    "full (y ~ y_lag + x_lag) OLS from exact HUGEINT/decimal centered "
    "moments, F = (n−3)·(RSS_r − RSS_f)/RSS_f quantized 1e-6 — the "
    "predictive-causality screen (does one stream's past improve the "
    "other's forecast?), guarded to NULL on degenerate variance",
)
def ts_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger's test as pure moment algebra: both OLS fits have
    closed forms in the centered cross-moments (C = n·S₂ − S₁²,
    exact integers — counts need no quantization grid at all), so
    RSS_restricted = (Cyy − C²yy1/Cy1y1)/n and the full-model
    quadratic form uses the explicit 2×2 inverse — no matrix solver,
    no iteration. The only floats are the final scalar F expression
    over string-cast exact integers (single IEEE-identical expression
    on both engines, floor-quantized 1e-6). No explicit RSS_r ≥ RSS_f
    guard is applied: it holds mathematically for nested OLS (the
    full model's RSS can only shrink), and the exact integer
    cross-multiplication that would enforce it (qf·Cy1y1 vs qr·det2)
    multiplies two C³-scale terms and would exceed decimal(38,0) —
    only the zero-variance/singularity NULL guards
    (Cy1y1 > 0, det2 > 0) are needed.

    Lag alignment is a self-join on hr−1 (gaps drop the row — the
    standard complete-case treatment), not a window: no global sort.

    Scale: one fact scan to hourly counts (map-side combined), a
    spine self-join, two 1-row moment aggregates. Deeper lags extend
    the same closed form (Cramer on a (p+2)² system) or move to the
    distributed normal-equation solve used by ml_als_user_solve.
    Moment products reach n²·x⁴ and the quadratic form C³ →
    HUGEINT/decimal(38,0); for year-long spines with ≥10⁶-count hours
    pre-scale the counts by integer floor-div (the rerandomization
    convention) before the moment pass — C³ must stay under 1e38.
    """
    ev = load(spark, "events", sf_dir)
    d38 = "decimal(38,0)"
    d = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("hr")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    d = pin(d)
    p = d.select(
        (F.col("hr") + 1).alias("hr"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    j = pin(d.join(p, "hr").select("x", "y", "x1", "y1"))

    def direction(ycol: str, xcol: str) -> DataFrame:
        yl, xl = f"{ycol}1", f"{xcol}1"
        m = j.agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum(ycol).cast(d38).alias("sy"),
            F.sum(yl).cast(d38).alias("sy1"),
            F.sum(xl).cast(d38).alias("sx1"),
            F.sum(F.expr(f"cast({ycol} as {d38}) * {ycol}")).alias("syy"),
            F.sum(F.expr(f"cast({yl} as {d38}) * {yl}")).alias("sy1y1"),
            F.sum(F.expr(f"cast({xl} as {d38}) * {xl}")).alias("sx1x1"),
            F.sum(F.expr(f"cast({ycol} as {d38}) * {yl}")).alias("syy1"),
            F.sum(F.expr(f"cast({ycol} as {d38}) * {xl}")).alias("syx1"),
            F.sum(F.expr(f"cast({yl} as {d38}) * {xl}")).alias("sy1x1"),
        )
        cen = m.select(
            F.lit(f"{xcol}->{ycol}").alias("direction"),
            "n",
            F.expr("n * syy - sy * sy").alias("cyy"),
            F.expr("n * sy1y1 - sy1 * sy1").alias("cy1y1"),
            F.expr("n * sx1x1 - sx1 * sx1").alias("cx1x1"),
            F.expr("n * syy1 - sy * sy1").alias("cyy1"),
            F.expr("n * syx1 - sy * sx1").alias("cyx1"),
            F.expr("n * sy1x1 - sy1 * sx1").alias("cy1x1"),
        )
        fin = cen.select(
            "direction",
            "n",
            "cyy",
            "cy1y1",
            F.expr("cyy1 * cyy1").alias("qr"),
            F.expr("cy1y1 * cx1x1 - cy1x1 * cy1x1").alias("det2"),
            F.expr(
                "cyy1 * cyy1 * cx1x1 - 2 * cyy1 * cyx1 * cy1x1 "
                "+ cyx1 * cyx1 * cy1y1"
            ).alias("qf"),
        )
        dbl = lambda c: F.expr(  # noqa: E731
            f"CAST(CAST({c} AS STRING) AS DOUBLE)"
        )
        rss_r = dbl("cyy") - dbl("qr") / dbl("cy1y1")
        rss_f = dbl("cyy") - dbl("qf") / dbl("det2")
        # no RSSr > RSSf guard: it holds mathematically (nested OLS)
        # and the exact cross-multiplication qf*cy1y1 vs qr*det2 would
        # reach C^4 ≈ 1e48 — past decimal(38,0); a float-rounding-level
        # negative F floor-quantizes identically on both engines
        f_stat = F.when(
            (F.col("cy1y1") > 0) & (F.col("det2") > 0),
            F.floor(
                (F.col("n").cast("double") - F.lit(3.0))
                * (rss_r - rss_f)
                / rss_f
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )
        return fin.select(
            "direction",
            F.col("n").cast("long").alias("n_obs"),
            f_stat.alias("f_stat"),
        )

    return direction("y", "x").unionByName(direction("x", "y"))
