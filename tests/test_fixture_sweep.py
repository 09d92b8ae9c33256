"""sources.scans fixture sweep: failures are reported, not swallowed,
fixtures whose source table is absent are marked skipped, and scratch
inputs live in the checkout that holds the package."""

from __future__ import annotations

import os
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cs_pipeline_spark import registry
from cs_pipeline_spark.sources import scans
from cs_pipeline_spark.tables import load


def test_scratch_lives_in_the_package_checkout():
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert scans._SCRATCH == os.path.join(checkout, ".tmp", "sources")


def test_failing_fixtures_warn_once_and_leave_no_marker(spark, tmp_path, monkeypatch):
    # register every real fixture first, so none lands in the stand-in list
    registry._load_all_modules()

    def _fx_ok(spark, sf_dir):
        scans._scratch(sf_dir, "ok")  # creates the scratch generation dir

    def _fx_bad(spark, sf_dir):
        raise ValueError("table missing\nsecond line")

    monkeypatch.setattr(scans, "_FIXTURES", [_fx_ok, _fx_bad])
    monkeypatch.setattr(scans, "_SCRATCH", str(tmp_path / "scratch"))
    sf = tmp_path / "sf_partial"
    sf.mkdir()

    with pytest.warns(RuntimeWarning) as rec:
        scans.ensure_fixtures(spark, str(sf))
    assert len(rec) == 1
    msg = str(rec[0].message)
    assert f"{_fx_bad.__module__}.{_fx_bad.__qualname__}: ValueError: table missing" in msg
    assert "second line" not in msg
    assert "_fx_ok" not in msg
    root = os.path.dirname(scans._scratch(str(sf), "x"))
    assert os.path.isdir(root)
    assert not os.path.exists(os.path.join(root, "_fixtures_done"))


def test_generations_of_deleted_sf_dirs_are_pruned(spark, tmp_path, monkeypatch):
    registry._load_all_modules()

    def _fx_ok(spark, sf_dir):
        scans._scratch(sf_dir, "ok")

    monkeypatch.setattr(scans, "_FIXTURES", [_fx_ok])
    monkeypatch.setattr(scans, "_ENSURED", set())
    monkeypatch.setattr(scans, "_SCRATCH", str(tmp_path / "scratch"))
    kept, gone = tmp_path / "sf_kept", tmp_path / "sf_gone"
    for sf in (kept, gone):
        sf.mkdir()
        scans.ensure_fixtures(spark, str(sf))
    kept_root, gone_root = (
        scans.generation_root(str(sf)) for sf in (kept, gone)
    )
    unrecorded = os.path.join(scans._SCRATCH, "old-000000000000")
    os.makedirs(unrecorded)
    assert os.path.isdir(gone_root) and os.path.isdir(kept_root)

    gone.rmdir()
    scans._ENSURED.clear()  # a new process
    scans.ensure_fixtures(spark, str(kept))
    assert not os.path.exists(gone_root)
    assert os.path.exists(os.path.join(kept_root, "_fixtures_done"))
    assert os.path.isdir(unrecorded)  # no record: left alone


def test_partial_dir_marks_fixtures_of_missing_tables_skipped(spark, tmp_path, monkeypatch):
    registry._load_all_modules()
    calls: list[str] = []

    def _fx_ok(spark, sf_dir):
        calls.append("ok")
        scans._scratch(sf_dir, "ok")

    def _fx_needs_orders(spark, sf_dir):
        calls.append("orders")
        load(spark, "orders", sf_dir).count()  # PATH_NOT_FOUND: no orders here

    monkeypatch.setattr(scans, "_FIXTURES", [_fx_ok, _fx_needs_orders])
    monkeypatch.setattr(scans, "_ENSURED", set())
    monkeypatch.setattr(scans, "_SCRATCH", str(tmp_path / "scratch"))
    sf = tmp_path / "sf_partial"
    sf.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array([0, 1], pa.int64())}), str(sf / "documents.parquet"))

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        scans.ensure_fixtures(spark, str(sf))
    assert calls == ["ok", "orders"]
    with open(os.path.join(scans.generation_root(str(sf)), "_fixtures_done")) as f:
        lines = f.read().splitlines()
    name = f"{_fx_needs_orders.__module__}.{_fx_needs_orders.__qualname__}"
    assert f"{name} skipped" in lines

    scans._ENSURED.clear()  # a new process
    scans.ensure_fixtures(spark, str(sf))
    assert calls == ["ok", "orders"]


def test_missing_path_outside_the_sf_dir_still_warns(spark, tmp_path, monkeypatch):
    registry._load_all_modules()

    def _fx_elsewhere(spark, sf_dir):
        spark.read.parquet(str(tmp_path / "elsewhere" / "orders.parquet")).count()

    monkeypatch.setattr(scans, "_FIXTURES", [_fx_elsewhere])
    monkeypatch.setattr(scans, "_ENSURED", set())
    monkeypatch.setattr(scans, "_SCRATCH", str(tmp_path / "scratch"))
    sf = tmp_path / "sf_partial"
    sf.mkdir()

    with pytest.warns(RuntimeWarning, match="PATH_NOT_FOUND"):
        scans.ensure_fixtures(spark, str(sf))
    root = scans.generation_root(str(sf))
    assert not os.path.exists(os.path.join(root, "_fixtures_done"))
