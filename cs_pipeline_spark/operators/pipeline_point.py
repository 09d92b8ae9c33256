"""End-to-end point/gap-fill pipeline (reference ``run_point_process``,
core.py:259-301):

    station CSV scan → dual-format timestamp parse (unparseable→null→
    drop) → top-of-hour filter → time-range filter → missing-row
    isolation → hourly-ERA5 left join on timestamp →
    ``{pred}_AMF`` / ``{pred}_ERA5`` comparison table

The reference assigns ERA5 values into the station frame positionally
(``dfr.loc[:, (pred,'ERA5')] = values``, core.py:286); here it is an
explicit timestamp equi-join — the intended semantics, order-free.

The station CSV is scaffolded once per sf dir from the events table
(mixed ISO / ``yyyyMMddHHmm``-integer / garbage timestamps, nulls in
predictor columns), so the oracle can restate the expected survivors
from the parquet source. At 100 TB the station side is small (one CSV
per site); the ERA5 side streams through an hourly aggregate +
broadcast join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from cs_pipeline_spark.functions.era5_fixture import ERA5_CTE, era5_events
from cs_pipeline_spark.functions.physics import predictor_sql
from cs_pipeline_spark.operators.helpers import davg, sql_davg
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load

_PREDS = ["TA", "PA", "WS", "RH"]
_T0, _T1 = "2024-01-05 00:00:00", "2024-01-25 00:00:00"

# station timestamp: hour-truncated event ts + (event_id%4)·15 min, so
# only the %4==0 rows survive the top-of-hour filter
_ST_ROW_CAP = 200000  # driver-side fixture collect bound (see below)

_ST_TS_US = (
    f"epoch_us(date_trunc('hour', {EVENTS_TS_SQL})) "
    "+ (event_id % 4) * 900000000"
)

# AMF predictor values with deterministic nulls (the gaps to fill)
_AMF_SQL = {
    "TA": "CASE WHEN event_id % 5 = 0 THEN NULL ELSE value / 10.0 END",
    "PA": "CASE WHEN event_id % 7 = 0 THEN NULL ELSE 101.0 + value / 1000.0 END",
    "WS": "CASE WHEN event_id % 11 = 0 THEN NULL ELSE value / 50.0 END",
    "RH": "CASE WHEN event_id % 13 = 0 THEN NULL ELSE 50.0 + value % 50.0 END",
}

_CSV_SCHEMA = StructType(
    [StructField("timestamp", StringType())]
    + [StructField(p, DoubleType()) for p in _PREDS]
)


@_fixture
def _write_station_csv(spark: SparkSession, sf_dir: str) -> str:
    path = _scratch(sf_dir, "station_gapfill.csv")
    if os.path.exists(path):
        return path
    ev = load(spark, "events", sf_dir).filter(F.col("user_id") % 2 == 0)
    rows = (
        ev.selectExpr(
            "event_id",
            f"timestamp_micros(CAST({_ST_TS_US.replace('epoch_us', 'unix_micros')} AS BIGINT)) AS st_ts",
            *[f"{sql} AS {p}" for p, sql in _AMF_SQL.items()],
        )
        .orderBy("event_id")
        # Hard cap on the driver-side collect (station CSVs are small
        # by nature; a future sf bump must not OOM fixture generation).
        # Deterministic: ordered by unique event_id; the oracle's `st`
        # CTE carries the same ORDER BY/LIMIT.
        .limit(_ST_ROW_CAP)
        .collect()
    )
    with open(path, "w") as f:
        f.write("timestamp," + ",".join(_PREDS) + "\n")
        for r in rows:
            if r["event_id"] % 97 == 0:
                ts = "not-a-time"  # unparseable → null → dropped
            elif r["event_id"] % 2 == 0:
                ts = r["st_ts"].strftime("%Y-%m-%d %H:%M:%S")
            else:
                ts = r["st_ts"].strftime("%Y%m%d%H%M")  # integer format
            vals = ",".join(
                "" if r[p] is None else repr(r[p]) for p in _PREDS
            )
            f.write(f"{ts},{vals}\n")
    return path


def _oracle() -> str:
    st_cols = ", ".join(f"{sql} AS {p}" for p, sql in _AMF_SQL.items())
    e5_aggs = ", ".join(
        sql_davg(
            f"ROUND({predictor_sql(p)}, 6)" if p == "RH" else predictor_sql(p)
        )
        + f" AS {p}_ERA5"
        for p in _PREDS
    )
    out_cols = ", ".join(f"m.{p} AS {p}_AMF, e.{p}_ERA5" for p in _PREDS)
    any_null = " OR ".join(f"{p} IS NULL" for p in _PREDS)
    return (
        f"WITH {ERA5_CTE}, "
        f"st AS (SELECT event_id, make_timestamp({_ST_TS_US}) AS st_ts, "
        f"{st_cols} FROM events WHERE user_id % 2 = 0 "
        f"ORDER BY event_id LIMIT {_ST_ROW_CAP}), "
        "kept AS (SELECT * FROM st WHERE event_id % 97 <> 0 "
        "AND minute(st_ts) = 0 AND CAST(second(st_ts) AS INT) = 0 "
        f"AND st_ts BETWEEN TIMESTAMP '{_T0}' AND TIMESTAMP '{_T1}'), "
        f"miss AS (SELECT * FROM kept WHERE {any_null}), "
        "e5h AS (SELECT date_trunc('hour', valid_time) AS h, "
        f"{e5_aggs} FROM era5 GROUP BY 1) "
        f"SELECT m.st_ts AS timestamp, {out_cols} "
        "FROM miss m LEFT JOIN e5h e ON e.h = m.st_ts"
    )


@register(
    "process_point_e2e",
    _oracle(),
    doc="flagship #2: point/gap-fill chain — CSV scan → dual-format parse → "
    "top-of-hour/range/missing filters → hourly-ERA5 join → AMF/ERA5 "
    "comparison (core.py:259-301)",
)
def process_point_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "station_gapfill.csv")
    st = (
        spark.read.schema(_CSV_SCHEMA)
        .option("header", True)
        .csv(path)
        .withColumn(
            "st_ts",
            # try_to_timestamp: unparseable → null (reference coerces to
            # NaT, processor.py:65-87); ANSI-safe
            F.coalesce(
                F.try_to_timestamp(
                    F.col("timestamp"), F.lit("yyyy-MM-dd HH:mm:ss")
                ),
                F.try_to_timestamp(F.col("timestamp"), F.lit("yyyyMMddHHmm")),
            ),
        )
        .filter(F.col("st_ts").isNotNull())  # unparseable dropped
        .filter((F.minute("st_ts") == 0) & (F.second("st_ts") == 0))
        .filter(
            F.col("st_ts").between(
                F.to_timestamp(F.lit(_T0)), F.to_timestamp(F.lit(_T1))
            )
        )
    )
    miss = st.filter(
        F.greatest(*[F.col(p).isNull() for p in _PREDS])
    )  # OR of isNull (processor.py:89-109)

    e5 = era5_events(spark, sf_dir)
    e5h = e5.groupBy(
        F.date_trunc("hour", "valid_time").alias("h")
    ).agg(
        *[
            davg(
                f"ROUND({predictor_sql(p)}, 6)" if p == "RH" else predictor_sql(p)
            ).alias(f"{p}_ERA5")
            for p in _PREDS
        ]
    )
    out_cols = [F.col("st_ts").alias("timestamp")]
    for p in _PREDS:
        out_cols.append(F.col(p).alias(f"{p}_AMF"))
        out_cols.append(F.col(f"{p}_ERA5"))
    return miss.join(
        F.broadcast(e5h), e5h.h == miss.st_ts, "left"
    ).select(*out_cols)
