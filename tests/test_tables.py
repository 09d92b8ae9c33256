"""tables.load: a single-file table's schema is cached on the file's
stamp, so a rewritten file is re-inferred and an unchanged one runs no
schema-inference job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cs_pipeline_spark.tables import load


def _write(path: str, table: pa.Table) -> None:
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    _write(path, pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}))
    assert load(spark, "orders", str(tmp_path)).columns == ["o_orderkey"]

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    assert load(spark, "orders", str(tmp_path)).columns == ["o_orderkey"]
    assert dag.nextJobId() == before  # cached schema: no inference job

    _write(
        path,
        pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3], pa.int64()),
                "o_comment": pa.array(["a", "b", "c"]),
            }
        ),
    )
    df = load(spark, "orders", str(tmp_path))
    assert df.columns == ["o_orderkey", "o_comment"]
    assert sorted(r.o_comment for r in df.collect()) == ["a", "b", "c"]
