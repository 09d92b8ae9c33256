"""Real BMP decode — dependency-free pixel reader (8-bit palette).

BMP closes the legacy-image tail of the decoder family (clipart,
screenshots, scanned-document corpora). Two traps define the format:
pixel rows are stored BOTTOM-UP (last row first), and every row is
padded to a 4-byte boundary — an off-by-padding or top-down misread
permutes pixels in ways a plain sum cannot see, so the census
carries the position-weighted checksum Σ v[y,x]·(y·W+x+1) (the
wav.py/npy.py convention) computed in TOP-DOWN logical order.

Writer emits real BITMAPFILEHEADER + BITMAPINFOHEADER (40-byte) +
256-entry BGRA palette + padded bottom-up 8-bit pixel rows; the
parser validates magic, header sizes, offsets, dimensions, and
reduces pixels to a census. Malformed input raises ValueError only
(the crawl contract, pinned by tests/test_parser_fuzz.py).

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: per-file mapInPandas; numpy undoes the bottom-up padded rows
in the worker, one ~9-column row per file leaves it.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_BMPS = 6


def _bmp_meta(i: int) -> dict:
    # widths sweep all residues mod 4 so every padding width occurs
    return {"width": 13 + 5 * i, "height": 7 + 3 * i}


def _bmp_pixels(i: int) -> np.ndarray:
    """Logical top-down pixel values v[y, x] (palette indices)."""
    m = _bmp_meta(i)
    y = np.arange(m["height"])[:, None]
    x = np.arange(m["width"])[None, :]
    return ((y * 31 + x * 7 + i * 11) % 256).astype(np.uint8)


def encode_bmp(i: int) -> bytes:
    m = _bmp_meta(i)
    w, h = m["width"], m["height"]
    v = _bmp_pixels(i)
    stride = (w + 3) & ~3
    palette = b"".join(
        bytes([(c * 3) % 256, (c * 5) % 256, (c * 7) % 256, 0])
        for c in range(256)
    )
    pixel_at = 14 + 40 + len(palette)
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        rows += v[y].tobytes() + b"\x00" * (stride - w)
    size = pixel_at + len(rows)
    fhdr = b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_at)
    ihdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows), 2835, 2835, 256, 0
    )
    return fhdr + ihdr + palette + bytes(rows)


_B_COLS = (
    "width height bpp stride n_pixels val_sum val_min val_max checksum"
).split()


def decode_bmp_meta(payload: bytes) -> dict:
    """Validate both headers, undo the bottom-up padded row layout,
    and census the palette indices with a top-down position-weighted
    checksum. Raises ValueError on anything malformed."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    size, _r1, _r2, pixel_at = struct.unpack("<IHHI", payload[2:14])
    ihsize, w, h = struct.unpack("<Iii", payload[14:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if ihsize < 40:
        raise ValueError("unsupported BMP: pre-BITMAPINFOHEADER")
    if planes != 1 or compression != 0:
        raise ValueError("unsupported BMP: planes/compression")
    if bpp != 8:
        raise ValueError(f"unsupported BMP: {bpp}-bit pixels")
    if w <= 0 or h == 0:
        raise ValueError("malformed BMP: non-positive dimensions")
    top_down = h < 0
    h = abs(h)
    stride = (w + 3) & ~3
    if pixel_at + stride * h > len(payload):
        raise ValueError("truncated BMP: pixel rows overrun file")
    raw = np.frombuffer(
        payload[pixel_at : pixel_at + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, :w]
    v = raw if top_down else raw[::-1]  # undo bottom-up storage
    v = v.astype(np.int64)
    pos = np.arange(h)[:, None] * w + np.arange(w)[None, :] + 1
    return {
        "width": w,
        "height": h,
        "bpp": bpp,
        "stride": stride,
        "n_pixels": w * h,
        "val_sum": int(v.sum()),
        "val_min": int(v.min()),
        "val_max": int(v.max()),
        "checksum": int((v * pos).sum()),
    }


# ---------- fixtures + registered op ----------


def write_bmp_fixtures(out_dir: str) -> list[str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(_N_BMPS):
        p = f"{out_dir}/img-{i:03d}.bmp"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_bmp(i))
            os.replace(tmp, p)
        paths.append(p)
    return paths


@_fixture
def _fx_bmp_imgs(spark: SparkSession, sf_dir: str) -> None:
    write_bmp_fixtures(_scratch(sf_dir, "real_bmps"))


_BMP_ORACLE = f"""
    WITH imgs AS (SELECT unnest(range(0, {_N_BMPS})) AS i),
    px AS (
      SELECT g.i, y.y, x.x,
             (y.y * 31 + x.x * 7 + g.i * 11) % 256 AS v
      FROM imgs g,
           (SELECT unnest(range(0, 7 + 3 * {_N_BMPS - 1})) AS y) y,
           (SELECT unnest(range(0, 13 + 5 * {_N_BMPS - 1})) AS x) x
      WHERE y.y < 7 + 3 * g.i AND x.x < 13 + 5 * g.i)
    SELECT printf('img-%03d.bmp', CAST(i AS INT)) AS fname,
           CAST(13 + 5 * i AS BIGINT) AS width,
           CAST(7 + 3 * i AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bpp,
           CAST((13 + 5 * i + 3) // 4 * 4 AS BIGINT) AS stride,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS val_sum,
           CAST(MIN(v) AS BIGINT) AS val_min,
           CAST(MAX(v) AS BIGINT) AS val_max,
           CAST(SUM(v * (y * (13 + 5 * i) + x + 1)) AS BIGINT)
             AS checksum
    FROM px GROUP BY i
"""


@register(
    "mm_decode_bmp",
    _BMP_ORACLE,
    doc="REAL BMP pixel decode (8-bit palette): both headers "
    "validated, BOTTOM-UP padded rows undone, palette-index census "
    "with a top-down position-weighted checksum that catches row-"
    "order and stride-padding misreads — widths sweep all residues "
    "mod 4 so every padding width occurs; hash-checked against the "
    "fixture formula",
)
def mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The legacy-image tail of the decoder family. The two format
    traps — rows stored last-first and each row padded to 4 bytes —
    permute or shift pixels when misread; the positional checksum
    (computed in LOGICAL top-down order) pins both, and the fixture
    widths 13/18/23/28/33/38 cover every stride-padding residue.
    Negative height (top-down BMPs) is handled; 24-bit and RLE
    variants are declared unsupported with a loud ValueError.

    Scale: per-file mapInPandas, numpy layout-undo in the worker,
    one row per file out.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _B_COLS)
    return decode_files(
        spark, _scratch(sf_dir, "real_bmps"), "*.bmp",
        decode_bmp_meta, schema,
    )
