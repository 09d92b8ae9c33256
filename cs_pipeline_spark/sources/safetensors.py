"""safetensors checkpoint decode — dependency-free header walker.

Model weights and precomputed embedding shards ship as .safetensors
(the no-pickle tensor container): an 8-byte little-endian header
length, a JSON table mapping tensor names to {dtype, shape,
data_offsets}, then one contiguous data blob the offsets index into.
A training pipeline reads these headers constantly — to plan shard
loading, verify checkpoint completeness, and census parameters by
dtype — without ever touching the blob. This module follows the
``sources/gif.py`` pattern: a pure-python *writer* emitting real
safetensors files (valid JSON header with ``__metadata__``,
back-to-back data offsets, formula tensor shapes) and a *parser*
that validates the header length, the JSON, and the OFFSET
DISCIPLINE — offsets must tile the blob exactly, in order, with no
gaps or overlaps (the invariant the format's safety story rests on).

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py): a header length past EOF, broken
JSON, a dtype/shape/offsets mismatch, or non-contiguous offsets all
surface as one catchable type.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: per-file mapInPandas over a binaryFile scan; only the header
(KBs even for 100 GB checkpoints) is parsed — the blob is validated
by arithmetic on offsets, never read. The emitted per-tensor rows
are the shard-loading plan a distributed loader range-reads from.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_STS = 6
_DTYPES = (("F32", 4), ("F16", 2), ("I8", 1))


def _st_tensors(i: int) -> list[dict]:
    """(name, dtype, shape) table for checkpoint i, in offset order."""
    out = []
    for t in range(3 + i % 3):
        dtype, width = _DTYPES[(t + i) % 3]
        rows, cols = 4 + t + i, 8 + 2 * t
        out.append(
            {
                "name": f"layer{t}.weight",
                "dtype": dtype,
                "shape": [rows, cols],
                "params": rows * cols,
                "bytes": rows * cols * width,
            }
        )
    return out


def encode_safetensors(i: int) -> bytes:
    tensors = _st_tensors(i)
    header: dict = {"__metadata__": {"format": "pt", "fixture": str(i)}}
    off = 0
    for t in tensors:
        header[t["name"]] = {
            "dtype": t["dtype"],
            "shape": t["shape"],
            "data_offsets": [off, off + t["bytes"]],
        }
        off += t["bytes"]
    hjson = json.dumps(header, sort_keys=True).encode()
    blob = bytes((k * 31 + i) % 256 for k in range(off))
    return struct.pack("<Q", len(hjson)) + hjson + blob


_ST_WIDTH = {d: w for d, w in _DTYPES}


def decode_safetensors_meta(payload: bytes) -> list[dict]:
    """Parse the header and validate offset discipline; one dict per
    tensor in offset order. Raises ValueError on anything malformed."""
    if len(payload) < 8:
        raise ValueError("truncated safetensors: short length prefix")
    hlen = struct.unpack("<Q", payload[:8])[0]
    if 8 + hlen > len(payload):
        raise ValueError("truncated safetensors: header overruns file")
    try:
        header = json.loads(payload[8 : 8 + hlen])
    except (json.JSONDecodeError, UnicodeDecodeError):
        raise ValueError("malformed safetensors: header is not JSON") \
            from None
    if not isinstance(header, dict):
        raise ValueError("malformed safetensors: header not an object")
    blob_len = len(payload) - 8 - hlen
    tensors = []
    for name, spec in header.items():
        if name == "__metadata__":
            continue
        if not isinstance(spec, dict) or not all(
            k in spec for k in ("dtype", "shape", "data_offsets")
        ):
            raise ValueError("malformed safetensors: bad tensor spec")
        dtype = spec["dtype"]
        if dtype not in _ST_WIDTH:
            raise ValueError(
                f"unsupported safetensors: dtype {dtype!r}"
            )
        shape = spec["shape"]
        offs = spec["data_offsets"]
        if (
            not isinstance(shape, list)
            or not all(isinstance(d, int) and d >= 0 for d in shape)
            or not isinstance(offs, list)
            or len(offs) != 2
            or not all(isinstance(o, int) for o in offs)
        ):
            raise ValueError("malformed safetensors: bad shape/offsets")
        params = 1
        for d in shape:
            params *= d
        if offs[1] - offs[0] != params * _ST_WIDTH[dtype]:
            raise ValueError(
                "malformed safetensors: offsets disagree with "
                "dtype x shape"
            )
        if offs[0] < 0 or offs[1] > blob_len:
            raise ValueError(
                "malformed safetensors: offsets outside blob"
            )
        tensors.append(
            {
                "name": name,
                "dtype": dtype,
                "rank": len(shape),
                "params": params,
                "bytes": offs[1] - offs[0],
                "offset": offs[0],
            }
        )
    tensors.sort(key=lambda t: t["offset"])
    # offsets must tile the blob exactly: no gaps, no overlap
    at = 0
    for t in tensors:
        if t["offset"] != at:
            raise ValueError(
                "malformed safetensors: non-contiguous data offsets"
            )
        at += t["bytes"]
    if at != blob_len:
        raise ValueError("malformed safetensors: blob size mismatch")
    return tensors


# ---------- fixtures + registered op ----------


def write_st_fixtures(out_dir: str) -> list[str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(_N_STS):
        p = f"{out_dir}/ckpt-{i:03d}.safetensors"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_safetensors(i))
            os.replace(tmp, p)
        paths.append(p)
    return paths


@_fixture
def _fx_st_ckpts(spark: SparkSession, sf_dir: str) -> None:
    write_st_fixtures(_scratch(sf_dir, "real_safetensors"))


_WIDTH_SQL = "CASE dtype " + " ".join(
    f"WHEN '{d}' THEN {w}" for d, w in _DTYPES
) + " END"

_ST_ORACLE = f"""
    WITH ckpts AS (SELECT unnest(range(0, {_N_STS})) AS i),
    tens AS (SELECT i, unnest(range(0, 3 + i % 3)) AS t FROM ckpts),
    spec AS (
      SELECT i, t,
             printf('layer%d.weight', CAST(t AS INT)) AS name,
             CASE CAST((t + i) % 3 AS INT)
               WHEN 0 THEN 'F32' WHEN 1 THEN 'F16' ELSE 'I8' END
               AS dtype,
             (4 + t + i) * (8 + 2 * t) AS params
      FROM tens)
    SELECT printf('ckpt-%03d.safetensors', CAST(i AS INT)) AS fname,
           name, dtype,
           CAST(2 AS BIGINT) AS rank,
           CAST(params AS BIGINT) AS params,
           CAST(params * ({_WIDTH_SQL}) AS BIGINT) AS bytes,
           CAST(COALESCE(SUM(params * ({_WIDTH_SQL}))
                  OVER (PARTITION BY i ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS offset
    FROM spec
"""


@register(
    "scan_safetensors_meta",
    _ST_ORACLE,
    doc="safetensors checkpoint-header decode: 8-byte length prefix, "
    "JSON tensor table, and the OFFSET-DISCIPLINE validation (offsets "
    "must tile the blob exactly — dtype x shape == span, no gaps or "
    "overlap) — per-tensor (dtype, rank, params, bytes, offset) rows, "
    "the shard-loading plan a distributed loader range-reads from; "
    "hash-checked against the fixture formula including the "
    "window-computed cumulative offsets",
)
def scan_safetensors_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/embedding-shard triage: 6 fixtures sweep 3–5
    tensors across F32/F16/I8. The parser enforces the format's
    safety invariant — every byte of the blob owned by exactly one
    tensor, spans derived from dtype × shape — so a header that lies
    about offsets fails loudly instead of aliasing tensor data. The
    blob itself is never read; at 100 TB this walks checkpoint
    headers only.

    Scale: see module docstring — header-proportional reads, one row
    per tensor out.
    """
    schema = (
        "fname string, name string, dtype string, rank long, "
        "params long, bytes long, offset long"
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_safetensors"), "*.safetensors",
        decode_safetensors_meta, schema,
    )
