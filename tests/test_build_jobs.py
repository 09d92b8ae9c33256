"""Build-job budget: the graph frontier loops read each round's
predecessor once, so building them is one lazy plan, and the document
count they need comes from the parquet footer. Building them launches
no Spark job. ml_adaboost_stumps collects on the driver by design; its
alpha row is a VALUES relation whose collect() launches none."""

from __future__ import annotations

import pytest

from cs_pipeline_spark import registry
from cs_pipeline_spark.operators import graph
from cs_pipeline_spark.sources.scans import ensure_fixtures
from cs_pipeline_spark.tables import load


def _build_jobs(spark, fn) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    fn()
    return dag.nextJobId() - before


@pytest.fixture
def warm(spark, sf_dir):
    # setup-time jobs (fixture sweep, schema inference) are not build jobs
    ensure_fixtures(spark, sf_dir)
    load(spark, "documents", sf_dir)


@pytest.mark.parametrize("op", ["graph_bfs_distance", "graph_label_propagation"])
def test_frontier_loop_builds_without_jobs(spark, sf_dir, warm, op):
    registry.evict(op, spark, sf_dir, blocking=True)
    fn = registry.queries()[op]
    assert _build_jobs(spark, lambda: fn(spark, sf_dir)) == 0


def test_n_docs_runs_no_job(spark, sf_dir, warm):
    n = []
    assert _build_jobs(spark, lambda: n.append(graph._n_docs(spark, sf_dir))) == 0
    assert n == [load(spark, "documents", sf_dir).count()]


def test_adaboost_build_job_budget(spark, sf_dir, warm):
    op = "ml_adaboost_stumps"
    fn = registry.queries()[op]
    fn(spark, sf_dir)  # infers the schemas it reads
    registry.evict(op, spark, sf_dir, blocking=True)
    # rank targets 11, vote cells 2, alpha row 0
    assert _build_jobs(spark, lambda: fn(spark, sf_dir)) == 13
