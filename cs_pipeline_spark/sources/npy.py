"""Real NumPy .npy decode — dependency-free header walk + typed census.

Precomputed features and embedding blocks ship as .npy constantly —
it is the de-facto raw-tensor interchange file. The format is a
``\\x93NUMPY`` magic, a version pair (v1: u16 header length, v2:
u32 — the branch), a PYTHON-DICT-LITERAL header (``{'descr': '<i8',
'fortran_order': False, 'shape': (8, 6), }`` — parsed with
``ast.literal_eval``, never ``eval``), 64-byte alignment padding,
then raw element bytes in C or FORTRAN order. This module follows
the ``sources/gif.py`` pattern: a writer emitting both versions,
all three little-endian integer dtypes, and both memory orders; a
parser that validates magic/version/header/size-arithmetic and
reduces the elements to a census INCLUDING a position-weighted
checksum — Σ v[r,c]·(r·C+c+1) — so a parser that misreads
fortran_order (reads column-major bytes as row-major) cannot cancel
in the plain sum and hash-fails.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column including the checksum.

Scale: per-file mapInPandas; numpy reduces the element buffer in the
worker, one ~11-column row per file leaves it (the wav.py posture).
"""

from __future__ import annotations

import ast
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_NPYS = 6
_DTYPES = ("<i8", "<i4", "<i2")


def _npy_meta(i: int) -> dict:
    return {
        "major": 2 if i % 3 == 0 else 1,
        "dtype": _DTYPES[i % 3],
        "rows": 8 + i,
        "cols": 6 + 2 * i,
        "fortran": 1 if i % 2 == 1 else 0,
    }


def _npy_values(i: int) -> np.ndarray:
    m = _npy_meta(i)
    r = np.arange(m["rows"])[:, None]
    c = np.arange(m["cols"])[None, :]
    return (r * 13 + c * 7 + i * 5) % 201 - 100


def encode_npy(i: int) -> bytes:
    m = _npy_meta(i)
    arr = _npy_values(i).astype(m["dtype"])
    hdr = (
        f"{{'descr': '{m['dtype']}', "
        f"'fortran_order': {bool(m['fortran'])}, "
        f"'shape': ({m['rows']}, {m['cols']}), }}"
    )
    prefix_len = 10 if m["major"] == 1 else 12
    pad = (64 - (prefix_len + len(hdr) + 1) % 64) % 64
    hdr_bytes = (hdr + " " * pad + "\n").encode("latin-1")
    out = b"\x93NUMPY" + bytes([m["major"], 0])
    if m["major"] == 1:
        out += struct.pack("<H", len(hdr_bytes))
    else:
        out += struct.pack("<I", len(hdr_bytes))
    out += hdr_bytes
    out += arr.tobytes(order="F" if m["fortran"] else "C")
    return out


def decode_npy_meta(payload: bytes) -> dict:
    """Validate magic/version, literal-eval the header dict, check
    the element-buffer size arithmetic, and census the values with a
    position-weighted checksum (fortran_order honored). Raises
    ValueError on anything malformed."""
    if len(payload) < 10 or payload[:6] != b"\x93NUMPY":
        raise ValueError("not an NPY: bad magic")
    major, minor = payload[6], payload[7]
    if major == 1:
        (hlen,) = struct.unpack("<H", payload[8:10])
        hdr_at = 10
    elif major in (2, 3):
        if len(payload) < 12:
            raise ValueError("truncated NPY: short v2 header length")
        (hlen,) = struct.unpack("<I", payload[8:12])
        hdr_at = 12
    else:
        raise ValueError(f"unsupported NPY: version {major}.{minor}")
    if hdr_at + hlen > len(payload):
        raise ValueError("truncated NPY: header overruns file")
    try:
        hdr = ast.literal_eval(
            payload[hdr_at : hdr_at + hlen].decode("latin-1").strip()
        )
    except (ValueError, SyntaxError, MemoryError):
        raise ValueError("malformed NPY: header is not a dict literal") \
            from None
    if not isinstance(hdr, dict) or not all(
        k in hdr for k in ("descr", "fortran_order", "shape")
    ):
        raise ValueError("malformed NPY: header missing required keys")
    descr = hdr["descr"]
    if descr not in _DTYPES:
        raise ValueError(f"unsupported NPY: dtype {descr!r}")
    shape = hdr["shape"]
    if (
        not isinstance(shape, tuple)
        or len(shape) != 2
        or not all(isinstance(d, int) and d >= 0 for d in shape)
    ):
        raise ValueError("malformed NPY: non-2D or bad shape")
    rows, cols = shape
    itemsize = int(descr[2:])
    data = payload[hdr_at + hlen :]
    if len(data) != rows * cols * itemsize:
        raise ValueError("malformed NPY: data size disagrees with shape")
    order = "F" if hdr["fortran_order"] else "C"
    arr = np.frombuffer(data, dtype=descr).reshape(
        (rows, cols), order=order
    ).astype(np.int64)
    pos = (
        np.arange(rows)[:, None] * cols + np.arange(cols)[None, :] + 1
    )
    return {
        "major": major,
        "dtype": descr,
        "rows": rows,
        "cols": cols,
        "fortran": 1 if hdr["fortran_order"] else 0,
        "n_elems": rows * cols,
        "val_sum": int(arr.sum()),
        "val_min": int(arr.min()) if arr.size else 0,
        "val_max": int(arr.max()) if arr.size else 0,
        "checksum": int((arr * pos).sum()),
    }


# ---------- fixtures + registered op ----------


def write_npy_fixtures(out_dir: str) -> list[str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(_N_NPYS):
        p = f"{out_dir}/feat-{i:03d}.npy"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_npy(i))
            os.replace(tmp, p)
        paths.append(p)
    return paths


@_fixture
def _fx_npy_feats(spark: SparkSession, sf_dir: str) -> None:
    write_npy_fixtures(_scratch(sf_dir, "real_npys"))


_NPY_ORACLE = f"""
    WITH feats AS (SELECT unnest(range(0, {_N_NPYS})) AS i),
    cells AS (
      SELECT f.i, r.r, c.c,
             (r.r * 13 + c.c * 7 + f.i * 5) % 201 - 100 AS v
      FROM feats f,
           (SELECT unnest(range(0, 8 + {_N_NPYS - 1})) AS r) r,
           (SELECT unnest(range(0, 6 + 2 * {_N_NPYS - 1})) AS c) c
      WHERE r.r < 8 + f.i AND c.c < 6 + 2 * f.i)
    SELECT printf('feat-%03d.npy', CAST(i AS INT)) AS fname,
           CAST(CASE WHEN i % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
             AS major,
           CASE CAST(i % 3 AS INT) WHEN 0 THEN '<i8' WHEN 1 THEN '<i4'
                ELSE '<i2' END AS dtype,
           CAST(8 + i AS BIGINT) AS rows,
           CAST(6 + 2 * i AS BIGINT) AS cols,
           CAST(i % 2 AS BIGINT) AS fortran,
           CAST(COUNT(*) AS BIGINT) AS n_elems,
           CAST(SUM(v) AS BIGINT) AS val_sum,
           CAST(MIN(v) AS BIGINT) AS val_min,
           CAST(MAX(v) AS BIGINT) AS val_max,
           CAST(SUM(v * (r * (6 + 2 * i) + c + 1)) AS BIGINT)
             AS checksum
    FROM cells GROUP BY i
"""


@register(
    "scan_npy_header",
    _NPY_ORACLE,
    doc="REAL NumPy .npy decode: magic/version branch (v1 u16 vs v2 "
    "u32 header length), literal-eval'd dict header, size-arithmetic "
    "validation, and a typed value census with a position-weighted "
    "checksum that catches fortran_order misreads — the raw-tensor "
    "interchange file, hash-checked against the fixture formula",
)
def scan_npy_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature/embedding-block triage on real .npy bytes: 6 fixtures
    sweep both header versions, all three little-endian int dtypes,
    and both memory orders. The two silent-failure traps are the
    v1/v2 header-length width and fortran_order — reading
    column-major bytes as row-major permutes values, which the plain
    sum cannot see but the position-weighted checksum pins (the
    wav.py checksum convention). The header is parsed with
    ast.literal_eval, never eval.

    Scale: see module docstring — per-file mapInPandas, numpy census
    in the worker, one row per file out.
    """
    schema = (
        "fname string, major long, dtype string, rows long, cols long, "
        "fortran long, n_elems long, val_sum long, val_min long, "
        "val_max long, checksum long"
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_npys"), "*.npy",
        decode_npy_meta, schema,
    )
