"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. One parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB each of these would be a partitioned parquet dataset
(e.g. ``lineitem/`` partitioned by ship month); ``load`` takes a
directory so the same call works on a single file or a whole dataset —
Spark's parquet source handles partition discovery + pruning.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# events.parquet has shipped as either TIMESTAMP(NANOS) (read as long
# via the legacy conf, truncated to µs) or plain timestamp[us] (read as
# TIMESTAMP_NTZ under inferTimestampNTZ). ``load`` normalizes both to
# session-UTC TimestampType, so downstream code sees one type. DuckDB
# oracles mirror with CAST(ts AS TIMESTAMP) — a no-op on µs files and a
# truncating cast on ns files, matching the Spark side exactly.
EVENTS_TS_SQL = "CAST(ts AS TIMESTAMP)"


def nan_to_null(df: DataFrame) -> DataFrame:
    """NaN→null on every top-level float/double column.

    The reference's xarray pipeline treats NaN as *missing* and every
    reduction skips it (/root/reference/pipeline/carbonpipeline/
    dataset.py:144, skipna throughout). Spark aggregates do NOT skip
    NaN, so NaN-capable sources (ERA5 fixtures, scratch parquet with
    real holes) normalize at ingest with this; after it, null is the
    single missing-value representation.

    Deliberately NOT applied blanket in ``load``: wrapping every double
    column in ``nanvl`` makes filters on those columns non-pushable
    (the parquet scan sees ``nanvl(col)``, not ``col`` — PushedFilters
    goes empty), which at the 100 TB design point turns row-group
    pruning into full scans. The driver tables are NaN-free by
    construction, and the deterministic aggregate helpers
    (``operators/helpers._skipna``) skip NaN at the expression level on
    both engines, so skipna parity holds without the scan-side cost.
    """
    from pyspark.sql.types import DoubleType, FloatType

    cols, changed = [], False
    for f in df.schema.fields:
        if isinstance(f.dataType, (DoubleType, FloatType)):
            cols.append(
                F.nanvl(F.col(f.name), F.lit(None).cast(f.dataType)).alias(
                    f.name
                )
            )
            changed = True
        else:
            cols.append(F.col(f.name))
    return df.select(*cols) if changed else df


# confs that change the schema Spark infers from a parquet footer
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# (path, inference confs) -> (file stamp, schema); a rewritten file
# replaces its entry, so the cache holds one schema per file and conf set
_SCHEMAS: dict[tuple, tuple[tuple[int, int, int], StructType]] = {}


def _file_stamp(path: str) -> tuple[int, int, int] | None:
    """``(st_ino, st_size, st_mtime_ns)`` of a single local file; None
    for a directory or a path the local filesystem cannot stat."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if stat.S_ISDIR(st.st_mode):
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the file's schema cached.

    Schema inference is a one-task Spark job per call (~0.1 s); a read
    with the schema given runs none. The cache key is the path, the
    file's ``(st_ino, st_size, st_mtime_ns)`` stamp and the inference
    confs, so a rewritten file or a changed conf infers afresh.
    Directories (partitioned datasets) always infer: a stamp on the
    directory does not see a rewritten part file. So do paths the
    local filesystem cannot stat (``s3a://``, ``hdfs://``). Like Spark's
    FileStatusCache the cache is process-wide and survives
    ``registry.evict``, which drops plans and pinned data, not file
    metadata.
    """
    stamp = _file_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)  # Spark raises its own error
    key = (os.path.abspath(path), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one table from an sf directory (file or partitioned dir).

    Raw columns pass through untouched so scan-column filters stay
    pushable (see ``nan_to_null`` for why NaN normalization is NOT
    done here); only ``events.ts`` is type-normalized. A single-file
    table's schema is cached (``_read_parquet``), so only the first
    ``load`` of a file runs Spark's schema-inference job.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # legacy nanos file: truncate ns → µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # µs file read as NTZ: reinterpret in the session tz (UTC —
            # session.py pins it), value-preserving
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


# path -> (file stamp, row count from the parquet footer)
_ROW_COUNTS: dict[str, tuple[tuple[int, int, int], int]] = {}


def row_count(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> int:
    """Row count of one table, read from the parquet footer.

    ``load(...).count()`` on the V1 parquet source runs two Spark jobs
    (partial counts per file split, then the final aggregate); a
    single-file table's ``num_rows`` already sits in its footer, so
    this reads it with pyarrow and runs none. The count is cached on
    the path and the file's ``(st_ino, st_size, st_mtime_ns)`` stamp,
    like ``_read_parquet``'s schemas. Directories (partitioned
    datasets) and paths the local filesystem cannot stat fall back to
    ``load(...).count()``.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    stamp = _file_stamp(path)
    if stamp is None:
        return load(spark, name, sf_dir).count()
    key = os.path.abspath(path)
    hit = _ROW_COUNTS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    n = pq.read_metadata(path).num_rows
    _ROW_COUNTS[key] = (stamp, n)
    return n
