"""The deterministic aggregates are one SQL template each, rendered for
Spark and DuckDB through ``helpers.SPARK_SQL`` / ``helpers.DUCKDB_SQL``.

- The renders are pinned byte for byte (``agg_renders_golden.json``), so
  every oracle and the resample plan stay what they were.
- The two renders agree bit for bit on the rows where the engines differ
  most: NaN, an all-null group, a FLOAT column, -0.0, 1e6 and values on
  a 1e-6 decimal tie.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import duckdb
import pytest

from cs_pipeline_spark.operators import helpers
from cs_pipeline_spark.plans import agg_compiler

with open(os.path.join(os.path.dirname(__file__), "agg_renders_golden.json")) as _f:
    GOLDEN = json.load(_f)

AGGS = ("dsum", "davg", "dvar_pop", "dstd_pop")


@pytest.fixture
def expr_text(monkeypatch):
    """Make ``F.expr`` hand back its SQL text (with ``.alias``), so the
    Spark entry points can be compared as strings without a session."""

    class Text(str):
        def alias(self, name):
            return Text(f"{self} AS {name}")

    monkeypatch.setattr(helpers.F, "expr", Text)


def test_aggregate_renders_match_golden(expr_text):
    for agg, text in GOLDEN["spark"].items():
        assert getattr(helpers, agg)("x") == text, agg
    for agg, text in GOLDEN["duckdb"].items():
        assert getattr(helpers, f"sql_{agg}")("x") == text, agg


def test_agg_schema_renders_match_golden(expr_text):
    sample = GOLDEN["schema_sample"]
    gran, preds = sample["granularity"], sample["predictors"]
    assert agg_compiler.compile_agg_schema(gran, preds) == sample["spark"]
    assert agg_compiler.compile_agg_schema_sql(gran, preds) == sample["duckdb"]
    for gran, digests in GOLDEN["schema_sha256"].items():
        for dialect, rendered in (
            ("spark", agg_compiler.compile_agg_schema(gran)),
            ("duckdb", agg_compiler.compile_agg_schema_sql(gran)),
        ):
            got = hashlib.sha256("\n".join(rendered).encode()).hexdigest()
            assert got == digests[dialect], (gran, dialect)


VALUES = [
    (0, 1.5), (0, float("nan")), (0, -2.25e-7), (0, 0.1),
    (1, None), (1, None),
    (2, 3.0000005), (2, -0.0), (2, 1e6),
    (3, 2.5e-7), (3, -2.5e-7), (3, 0.0000015),
]


def _bits(v):
    return None if v is None else struct.pack("d", v)


def test_spark_and_duckdb_aggregates_bit_identical(spark):
    """Spark ``dsum/davg/dvar_pop/dstd_pop`` equal DuckDB ``sql_*`` bit
    for bit per group, over a DOUBLE and a FLOAT column."""
    df = spark.createDataFrame(VALUES, "g int, x double").selectExpr(
        "g", "x", "CAST(x AS FLOAT) AS xf"
    )
    rows = ", ".join(
        f"({g}, {'NULL' if x is None else f'CAST({str(x)!r} AS DOUBLE)'})"
        for g, x in VALUES
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT g, x, CAST(x AS FLOAT) AS xf "
        f"FROM (VALUES {rows}) v(g, x)"
    )
    assert con.execute("SELECT typeof(xf) FROM t LIMIT 1").fetchone()[0] == "FLOAT"
    for col in ("x", "xf"):
        got = df.groupBy("g").agg(
            *[getattr(helpers, a)(col).alias(a) for a in AGGS]
        )
        spark_rows = {r["g"]: tuple(_bits(r[a]) for a in AGGS) for r in got.collect()}
        sel = ", ".join(f"{getattr(helpers, 'sql_' + a)(col)} AS {a}" for a in AGGS)
        duck_rows = {
            r[0]: tuple(_bits(v) for v in r[1:])
            for r in con.execute(f"SELECT g, {sel} FROM t GROUP BY g").fetchall()
        }
        assert spark_rows == duck_rows, col
        # the all-null group is null in every aggregate, not 0.0
        assert spark_rows[1] == (None,) * len(AGGS)
