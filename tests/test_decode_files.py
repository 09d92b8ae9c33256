"""`scans.decode_files`: the one binaryFile → mapInPandas decode
boundary, and a guard that keeps new decoders on it."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql.types import StructType

from cs_pipeline_spark.sources.gif import decode_gif_meta
from cs_pipeline_spark.sources.quarantine import _q_payload
from cs_pipeline_spark.sources.scans import decode_files

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cs_pipeline_spark",
    "sources",
)

# (module, top-level function) → why it reads binaryFile itself
BESPOKE = {
    ("scans", "decode_files"): "the combinator",
    ("scans", "scan_binary_files"): "no decode: length + md5 in Spark",
    ("png", "decode_png_df"): "columnar per-pixel frames (mm_decode_png)",
    ("tiff", "decode_raster_df"): "columnar per-pixel frames",
    ("orc_meta", "scan_orc_postscript"): "shard from the partition dir",
    ("orc_meta", "scan_orc_col_stats"): "shard from the partition dir",
    ("torrent", "scan_torrent_manifest"): "joins manifests to payloads",
    ("warc", "scan_cdx_ranged_fetch"): "joins the CDX index to shards",
    ("wikidump", "scan_bz2_multistream"): "joins the dump index to dumps",
    ("quarantine", "mm_decode_quarantine"): "counts ValueErrors per format",
}


def _write(d, name: str, data: bytes) -> None:
    (d / name).write_bytes(data)


def test_one_row_decoder_keeps_declared_columns(spark, tmp_path):
    _write(tmp_path, "a.bin", b"abc")
    _write(tmp_path, "b.bin", b"hello")
    schema = "n long, fname string, head string"
    df = decode_files(
        spark, str(tmp_path), "*.bin",
        lambda b: {"head": b[:1].decode(), "n": len(b), "extra": 1},
        schema,
    )
    assert df.schema == StructType.fromDDL(schema)
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [(3, "a.bin", "a"), (5, "b.bin", "h")]


def test_many_row_decoder_counts_every_row(spark, tmp_path):
    payloads = {"x.bin": b"\x01\x02\x03", "y.bin": b"\x07" * 5, "z.bin": b""}
    for name, data in payloads.items():
        _write(tmp_path, name, data)

    def per_byte(b: bytes):
        for i, v in enumerate(b):
            yield {"i": i, "v": v}

    df = decode_files(
        spark, str(tmp_path), "*.bin", per_byte,
        "fname string, i long, v long",
    )
    rows = df.collect()
    assert len(rows) == sum(len(p) for p in payloads.values())
    assert sorted((r.fname, r.i, r.v) for r in rows if r.fname == "x.bin") \
        == [("x.bin", 0, 1), ("x.bin", 1, 2), ("x.bin", 2, 3)]


def test_name_col_fills_the_named_column(spark, tmp_path):
    _write(tmp_path, "s-00.tar", b"ab")
    df = decode_files(
        spark, str(tmp_path), "*.tar", lambda b: [{"size": len(b)}],
        "shard string, size long", name_col="shard",
    )
    assert df.columns == ["shard", "size"]
    assert [tuple(r) for r in df.collect()] == [("s-00.tar", 2)]


def test_glob_matching_nothing_is_empty_with_declared_schema(spark, tmp_path):
    _write(tmp_path, "a.bin", b"abc")
    schema = "fname string, n long, tags array<string>"
    df = decode_files(
        spark, str(tmp_path), "*.none", lambda b: {"n": len(b)}, schema
    )
    assert df.schema == StructType.fromDDL(schema)
    assert df.collect() == []


def test_corrupt_file_fails_naming_that_file(spark, tmp_path):
    _write(tmp_path, "ok-000.gif", _q_payload("gif", 0))
    _write(tmp_path, "bad-001.gif", _q_payload("gif", 1))
    with pytest.raises(ValueError):
        decode_gif_meta(_q_payload("gif", 1))
    df = decode_files(
        spark, str(tmp_path), "*.gif", decode_gif_meta,
        "fname string, width long",
    )
    with pytest.raises(Exception) as ei:
        df.collect()
    msg = str(ei.value)
    assert "ValueError: bad-001.gif: " in msg
    assert "ok-000.gif" not in msg


def _binaryfile_sites() -> set[tuple[str, str]]:
    """(module, top-level def) of every "binaryFile" literal in code —
    docstrings and comments only mention the format, never equal it."""
    sites = set()
    for fn in sorted(os.listdir(SOURCES)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(SOURCES, fn)) as f:
            tree = ast.parse(f.read())
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Constant) and node.value == "binaryFile":
                    sites.add((fn[:-3], getattr(top, "name", "<module>")))
    return sites


def test_binaryfile_reads_go_through_decode_files():
    sites = _binaryfile_sites()
    rogue = sites - set(BESPOKE)
    assert not rogue, (
        f"hand-rolled binaryFile reads {sorted(rogue)}: decode through "
        "scans.decode_files (decode(bytes) -> row dict or row dicts)"
    )
    stale = set(BESPOKE) - sites
    assert not stale, f"allowlist entries with no binaryFile read: {stale}"
