"""tables.load and tables.row_count: a single-file table's schema and
row count are cached on the file's stamp, so a rewritten file is read
afresh and an unchanged one runs no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cs_pipeline_spark.tables import load, row_count


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


def test_row_count_reads_the_footer_without_a_job(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    _write(path, pa.table({"o_orderkey": pa.array(range(7), pa.int64())}))
    want = load(spark, "orders", str(tmp_path)).count()

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    assert row_count(spark, "orders", str(tmp_path)) == want == 7
    assert dag.nextJobId() == before

    _write(path, pa.table({"o_orderkey": pa.array(range(3), pa.int64())}))
    assert row_count(spark, "orders", str(tmp_path)) == 3


def test_row_count_of_a_partitioned_directory_counts(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    for part, n in (("k=1", 2), ("k=2", 5)):
        (table / part).mkdir(parents=True)
        pq.write_table(
            pa.table({"o_orderkey": pa.array(range(n), pa.int64())}),
            str(table / part / "part-0.parquet"),
        )
    want = load(spark, "orders", str(tmp_path)).count()

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    assert row_count(spark, "orders", str(tmp_path)) == want == 7
    assert dag.nextJobId() > before  # no footer read: Spark counted
