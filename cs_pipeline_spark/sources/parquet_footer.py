"""Byte-level Parquet footer decode — dependency-free thrift walker.

Every table in the lake is parquet, and every lake audit starts from
footer metadata: row-group sizes (compaction debt), per-chunk codecs
(mixed-codec drift), value counts (corruption triage) — read at ~KB
per file regardless of data size, exactly how table formats
(Iceberg/Delta) plan scans. Spark exposes this only through its own
reader; this module reads the footer FROM THE BYTES: "PAR1" magic +
little-endian footer length from the tail, then a thrift COMPACT
protocol walk (varint / zigzag / field-delta headers — the actual
wire format) over FileMetaData → RowGroup → ColumnChunk →
ColumnMetaData.

The interop direction is inverted from the other binary modules: the
WRITER here is pyarrow (a real, independent parquet implementation)
and only the PARSER is ours — so a wrong varint or field-id
interpretation cannot self-cancel the way a matched writer/parser
pair could. Fixture shape (rows, row-group size, column count,
codec) is stated by formula, so the DuckDB oracle recomputes every
output column.

Malformed input raises ValueError only (the crawl contract, pinned by
tests/test_parser_fuzz.py): bad magic, footer length outside the
file, a truncated varint, or an over-deep struct all surface as one
catchable type.

Scale: per-file mapInPandas over a binaryFile scan; only the footer
tail is decoded — the column data pages are never touched, the
production property that lets a 100 TB lake audit run in minutes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_PQ = 4
_MAX_DEPTH = 24

# thrift compact type ids
_T_STOP = 0
_T_TRUE, _T_FALSE, _T_BYTE, _T_I16, _T_I32, _T_I64 = 1, 2, 3, 4, 5, 6
_T_DOUBLE, _T_BINARY, _T_LIST, _T_SET, _T_MAP, _T_STRUCT = (
    7, 8, 9, 10, 11, 12,
)


def _pq_meta(i: int) -> dict:
    n = 1000 + 137 * i
    rgs = 256 + 32 * i
    return {"n_rows": n, "rg_size": rgs,
            "n_rgs": (n + rgs - 1) // rgs, "n_cols": 3}


# ---------- writer (pyarrow — the independent implementation) ----------


def encode_parquet_tbl(i: int) -> bytes:
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = _pq_meta(i)
    n = m["n_rows"]
    idx = np.arange(n, dtype=np.int64)
    tbl = pa.table({
        "a": pa.array(idx * 7 + i, type=pa.int64()),
        "b": pa.array((idx % 97) / 10.0, type=pa.float64()),
        "c": pa.array([f"r{k % 50}" for k in range(n)], type=pa.string()),
    })
    buf = io.BytesIO()
    pq.write_table(tbl, buf, row_group_size=m["rg_size"],
                   compression="snappy")
    return buf.getvalue()


# ---------- thrift compact reader ----------


class _TC:
    """Minimal thrift COMPACT protocol reader, ValueError-only."""

    def __init__(self, buf: bytes) -> None:
        self.b = buf
        self.p = 0

    def u8(self) -> int:
        if self.p >= len(self.b):
            raise ValueError("truncated parquet footer: thrift underrun")
        v = self.b[self.p]
        self.p += 1
        return v

    def varint(self) -> int:
        out = 0
        shift = 0
        for _ in range(10):
            b = self.u8()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
        raise ValueError("malformed parquet footer: varint too long")

    def zigzag(self) -> int:
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def string(self) -> bytes:
        ln = self.varint()
        if self.p + ln > len(self.b):
            raise ValueError("truncated parquet footer: string overruns")
        s = self.b[self.p : self.p + ln]
        self.p += ln
        return s

    def skip(self, t: int, depth: int = 0) -> None:
        if depth > _MAX_DEPTH:
            raise ValueError("malformed parquet footer: nesting too deep")
        if t in (_T_TRUE, _T_FALSE):
            return  # struct-field bools carry the value in the header
        if t == _T_BYTE:
            self.u8()
        elif t in (_T_I16, _T_I32, _T_I64):
            self.zigzag()
        elif t == _T_DOUBLE:
            if self.p + 8 > len(self.b):
                raise ValueError("truncated parquet footer: double")
            self.p += 8
        elif t == _T_BINARY:
            self.string()
        elif t in (_T_LIST, _T_SET):
            size, et = self.list_header()
            for _ in range(size):
                self.skip_elem(et, depth + 1)
        elif t == _T_MAP:
            size = self.varint()
            if size:
                kv = self.u8()
                kt, vt = kv >> 4, kv & 0x0F
                for _ in range(size):
                    self.skip_elem(kt, depth + 1)
                    self.skip_elem(vt, depth + 1)
        elif t == _T_STRUCT:
            self.read_struct({}, depth + 1)
        else:
            raise ValueError(f"malformed parquet footer: thrift type {t}")

    def skip_elem(self, t: int, depth: int) -> None:
        # list/map elements: bools are 1 byte, unlike struct fields
        if t in (_T_TRUE, _T_FALSE):
            self.u8()
        else:
            self.skip(t, depth)

    def list_header(self) -> tuple[int, int]:
        h = self.u8()
        size, et = h >> 4, h & 0x0F
        if size == 15:
            size = self.varint()
        if size < 0 or size > len(self.b):
            raise ValueError("malformed parquet footer: list size")
        return size, et

    def read_struct(self, handlers: dict, depth: int = 0) -> dict:
        """Walk one struct; handlers[field_id] = fn(reader, type) may
        record values; unhandled fields are skipped."""
        if depth > _MAX_DEPTH:
            raise ValueError("malformed parquet footer: nesting too deep")
        out: dict = {}
        fid = 0
        while True:
            h = self.u8()
            if h == _T_STOP:
                return out
            delta, t = h >> 4, h & 0x0F
            if delta:
                fid += delta
            else:
                fid = self.zigzag()
            fn = handlers.get(fid)
            if fn is None:
                self.skip(t, depth + 1)
            else:
                out[fid] = fn(self, t, depth + 1)
        raise ValueError("unreachable")


def _read_i(r: _TC, t: int, _d: int) -> int:
    if t not in (_T_I16, _T_I32, _T_I64):
        raise ValueError("malformed parquet footer: expected int field")
    return r.zigzag()


def _read_list_of_structs(handlers: dict):
    def fn(r: _TC, t: int, depth: int) -> list:
        if t != _T_LIST:
            raise ValueError("malformed parquet footer: expected list")
        size, et = r.list_header()
        if et != _T_STRUCT:
            raise ValueError("malformed parquet footer: expected structs")
        return [r.read_struct(handlers, depth + 1) for _ in range(size)]

    return fn


# parquet.thrift field ids (public format spec)
_COLMETA = {4: _read_i, 5: _read_i}  # codec, num_values
_COLCHUNK = {
    3: lambda r, t, d: r.read_struct(_COLMETA, d)
    if t == _T_STRUCT
    else (_ for _ in ()).throw(
        ValueError("malformed parquet footer: meta_data not struct")
    )
}
_ROWGROUP = {
    1: _read_list_of_structs(_COLCHUNK),  # columns
    2: _read_i,  # total_byte_size
    3: _read_i,  # num_rows
}
_FILEMETA = {
    3: _read_i,  # num_rows
    4: _read_list_of_structs(_ROWGROUP),  # row_groups
}

_CODEC_SNAPPY = 1


def decode_parquet_footer(payload: bytes) -> list[dict]:
    """Per-row-group footer census from raw bytes: magic + tail
    length, thrift-compact FileMetaData walk. ValueError-only."""
    if len(payload) < 12 or payload[:4] != b"PAR1" or payload[-4:] != b"PAR1":
        raise ValueError("not a parquet file: bad magic")
    flen = int.from_bytes(payload[-8:-4], "little")
    if flen <= 0 or flen + 8 > len(payload):
        raise ValueError("malformed parquet: footer length outside file")
    r = _TC(payload[-8 - flen : -8])
    fm = r.read_struct(_FILEMETA)
    if 3 not in fm or 4 not in fm:
        raise ValueError("malformed parquet: footer missing rows/groups")
    rows: list[dict] = []
    total = 0
    for rg_idx, rg in enumerate(fm[4]):
        if 3 not in rg or 1 not in rg:
            raise ValueError("malformed parquet: row group missing fields")
        chunks = [c.get(3, {}) for c in rg[1]]
        nv = [c.get(5) for c in chunks]
        if any(v is None for v in nv):
            raise ValueError("malformed parquet: chunk missing num_values")
        rows.append({
            "row_group": rg_idx,
            "num_rows": rg[3],
            "n_chunks": len(chunks),
            "values_total": sum(nv),
            "n_snappy_chunks": sum(
                1 for c in chunks if c.get(4) == _CODEC_SNAPPY
            ),
        })
        total += rg[3]
    if total != fm[3]:
        raise ValueError("malformed parquet: row-group rows != num_rows")
    return rows


# ---------- fixtures + registered op ----------


@_fixture
def _fx_parquet_tbls(spark: SparkSession, sf_dir: str) -> None:
    import os

    out_dir = _scratch(sf_dir, "real_parquet_tbls")
    os.makedirs(out_dir, exist_ok=True)
    for i in range(_N_PQ):
        p = f"{out_dir}/tbl-{i:03d}.parquet"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_parquet_tbl(i))
            os.replace(tmp, p)


_PQ_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_PQ})) AS f),
    m AS (SELECT f, 1000 + 137 * f AS n, 256 + 32 * f AS rgs
          FROM files),
    rg AS (SELECT f, n, rgs,
                  unnest(range(0, (n + rgs - 1) // rgs)) AS rg
           FROM m)
    SELECT printf('tbl-%03d.parquet', CAST(f AS INT)) AS fname,
           CAST(rg AS BIGINT) AS row_group,
           CAST(LEAST(rgs, n - rg * rgs) AS BIGINT) AS num_rows,
           CAST(3 AS BIGINT) AS n_chunks,
           CAST(LEAST(rgs, n - rg * rgs) * 3 AS BIGINT) AS values_total,
           CAST(3 AS BIGINT) AS n_snappy_chunks
    FROM rg
"""


@register(
    "scan_parquet_footer",
    _PQ_ORACLE,
    doc="byte-level parquet footer decode: PAR1 magic + tail length, "
    "thrift COMPACT walk (varint/zigzag/field-delta headers) over "
    "FileMetaData → RowGroup → ColumnChunk → ColumnMetaData — "
    "per-row-group rows/chunks/value-counts/codec census on files "
    "WRITTEN BY PYARROW (independent implementation, no matched-"
    "writer self-cancel), hash-checked against the fixture formula",
)
def scan_parquet_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake-audit primitive: row-group census straight from
    footer bytes. 4 pyarrow-written fixtures sweep row counts and
    row-group sizes (4–5 groups each, snappy); the parser must get
    varint continuation, zigzag signs, field-id deltas, and the
    struct/list nesting right or the cross-checks fail loudly
    (Σ rg.num_rows must equal FileMetaData.num_rows; every chunk
    must carry num_values). The page data is never read.

    Scale: see module docstring — footer-tail reads only; per-file
    mapInPandas map work, no shuffle. On object storage the same
    decode runs on a ranged GET of the last ~64 KB.
    """
    schema = (
        "fname string, row_group long, num_rows long, n_chunks long, "
        "values_total long, n_snappy_chunks long"
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_parquet_tbls"), "tbl-*.parquet",
        decode_parquet_footer, schema,
    )
