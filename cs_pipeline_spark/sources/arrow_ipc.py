"""Arrow IPC *file* format decode — dependency-free flatbuffers walk.

Arrow IPC (Feather v2) is the interchange format every Arrow-native
tool (pyarrow, DataFusion, Polars, DuckDB ``ARROW``) reads and
writes — the last major columnar container missing from this engine's
byte-level format family (parquet footer/pages/page-index, ORC
postscript/stats, Avro OCF, Delta/Iceberg/Hudi logs). This module
follows the ``sources/parquet_footer.py`` posture: decode from raw
bytes with no Arrow IPC reader — including the flatbuffers layer
itself (root uoffset → table → signed soffset → vtable → field
slots), which is hand-walked the same way ``orc_meta.py`` hand-walks
protobuf wire format.

File layout (Arrow columnar spec, File format):
``ARROW1\\x00\\x00`` magic, a sequence of encapsulated messages
(``0xFFFFFFFF`` continuation, int32 metadata size, Message
flatbuffer, 8-aligned body), the Footer flatbuffer (schema +
record-batch Block index: offset / metaDataLength / bodyLength
structs), int32 footer length, trailing ``ARROW1``.

Per batch the decoder validates framing like the Avro sync check:
the continuation marker must precede every indexed block, FieldNode
count must equal the schema field count, every node length must
equal the batch row count, and the null count RECOMPUTED from the
validity bitmap must equal the FieldNode's declared null_count — a
writer that miscounts nulls or reorders buffers fails loudly instead
of producing a plausible census. Value decode covers the four
buffer layouts that span the fixed/var-width space: int64
(validity + data), float64 (validity + data), utf8 (validity +
int32 offsets + data), bool (validity + bit-packed data).
Dictionary batches, compressed bodies (BodyCompression), and other
types raise ValueError("unsupported ...").

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py).

Scale: per-file mapInPandas over a binaryFile scan — batches decode
sequentially within a file, files fan out across executors. The
Block index in the footer is exactly what makes the FILE format
random-access at 100 TB: a reader can fan batch ranges of one huge
file across tasks by slicing the Block vector, the same split
strategy the parquet row-group reader uses. Value sums ride numpy
over the raw buffers (vectorized, no per-row Python in the hot
loop).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_ARROW = 4
_BATCH_ROWS = 57  # deliberate non-divisor → ragged final batches

# ---------- fixture formula ----------
# File i: n = 200 + 61·i rows of (id int64, x float64, s utf8,
# b bool), each column nullable on its own residue class; x is an
# exact EIGHTH so the value checksum is the integer Σ 8·x.


def _row_vals(i: int, r: int):
    rid = None if r % 7 == 3 else r * 5 + i
    x = None if r % 5 == 4 else ((r * 11 + i) % 400) / 8.0
    s = None if r % 11 == 6 else f"s{r % 13}"
    b = None if r % 13 == 9 else (r % 3 == 0)
    return rid, x, s, b


# ---------- minimal flatbuffers reader ----------


def _u16(b: bytes, p: int) -> int:
    if p < 0 or p + 2 > len(b):
        raise ValueError("truncated arrow: u16 overrun")
    return struct.unpack_from("<H", b, p)[0]


def _i32(b: bytes, p: int) -> int:
    if p < 0 or p + 4 > len(b):
        raise ValueError("truncated arrow: i32 overrun")
    return struct.unpack_from("<i", b, p)[0]


def _u32(b: bytes, p: int) -> int:
    if p < 0 or p + 4 > len(b):
        raise ValueError("truncated arrow: u32 overrun")
    return struct.unpack_from("<I", b, p)[0]


def _i64(b: bytes, p: int) -> int:
    if p < 0 or p + 8 > len(b):
        raise ValueError("truncated arrow: i64 overrun")
    return struct.unpack_from("<q", b, p)[0]


def _u8(b: bytes, p: int) -> int:
    if p < 0 or p >= len(b):
        raise ValueError("truncated arrow: u8 overrun")
    return b[p]


def _i16(b: bytes, p: int) -> int:
    if p < 0 or p + 2 > len(b):
        raise ValueError("truncated arrow: i16 overrun")
    return struct.unpack_from("<h", b, p)[0]


def _fb_field(b: bytes, t: int, idx: int) -> int:
    """Absolute position of field ``idx``'s slot in the table at
    ``t``, or 0 when the field is absent (flatbuffers default).

    Table layout: int32 soffset at t points BACK to the vtable
    (vtable = t - soffset); vtable is uint16 vtable_size, uint16
    table_size, then one uint16 slot offset per field id.
    """
    vt = t - _i32(b, t)
    vsize = _u16(b, vt)
    fo = 4 + 2 * idx
    if fo + 2 > vsize:
        return 0
    voff = _u16(b, vt + fo)
    return t + voff if voff else 0


def _fb_scalar(b: bytes, t: int, idx: int, rd, default):
    p = _fb_field(b, t, idx)
    return rd(b, p) if p else default


def _fb_offset(b: bytes, t: int, idx: int) -> int:
    """Dereference an offset field (string/vector/table): absolute
    target position, 0 when absent."""
    p = _fb_field(b, t, idx)
    if not p:
        return 0
    tgt = p + _u32(b, p)
    if tgt >= len(b):
        raise ValueError("malformed arrow: offset out of range")
    return tgt


def _fb_vec(b: bytes, pos: int) -> tuple[int, int]:
    """Vector at ``pos`` → (element count, first-element position)."""
    n = _u32(b, pos)
    return n, pos + 4


def _fb_string(b: bytes, pos: int) -> str:
    n, ep = _fb_vec(b, pos)
    if ep + n > len(b):
        raise ValueError("truncated arrow: string overrun")
    return b[ep : ep + n].decode("utf-8", "replace")


# Schema.fbs Type union ids for the four supported layouts.
_TYPE_INT, _TYPE_FLOAT, _TYPE_UTF8, _TYPE_BOOL = 2, 3, 5, 6
_TYPE_NAMES = {
    _TYPE_INT: "int64",
    _TYPE_FLOAT: "float64",
    _TYPE_UTF8: "utf8",
    _TYPE_BOOL: "bool",
}


def _parse_schema(b: bytes, spos: int) -> list[tuple[str, str]]:
    """Schema table → [(field name, type name)]; Field's union type
    tag is field id 2, its value table id 3 (flatbuffers unions use
    two slots), dictionary encoding id 4."""
    fields_pos = _fb_offset(b, spos, 1)
    if not fields_pos:
        raise ValueError("malformed arrow: schema has no fields")
    n, ep = _fb_vec(b, fields_pos)
    if n == 0 or n > 10_000:
        raise ValueError("malformed arrow: bad schema field count")
    out: list[tuple[str, str]] = []
    for k in range(n):
        fpos = ep + 4 * k + _u32(b, ep + 4 * k)
        name_pos = _fb_offset(b, fpos, 0)
        name = _fb_string(b, name_pos) if name_pos else f"f{k}"
        ttype = _fb_scalar(b, fpos, 2, _u8, 0)
        if ttype not in _TYPE_NAMES:
            raise ValueError(f"unsupported arrow type id: {ttype}")
        tname = _TYPE_NAMES[ttype]
        tpos = _fb_offset(b, fpos, 3)
        if tname == "int64":
            bw = _fb_scalar(b, tpos, 0, _i32, 0) if tpos else 0
            signed = _fb_scalar(b, tpos, 1, _u8, 0) if tpos else 0
            if bw != 64 or not signed:
                raise ValueError("unsupported arrow int: signed 64-bit only")
        elif tname == "float64":
            prec = _fb_scalar(b, tpos, 0, _i16, 0) if tpos else 0
            if prec != 2:  # FloatingPoint.precision: DOUBLE = 2
                raise ValueError("unsupported arrow float: DOUBLE only")
        if _fb_offset(b, fpos, 4):
            raise ValueError("unsupported arrow: dictionary encoding")
        out.append((name, tname))
    return out


# ---------- file decode ----------


def _valid_mask(vbuf: bytes, nrows: int) -> np.ndarray:
    """LSB-first validity bitmap → bool mask of length nrows; an
    empty buffer means all-valid (the writer omitted the bitmap)."""
    if len(vbuf) == 0:
        return np.ones(nrows, dtype=bool)
    if len(vbuf) * 8 < nrows:
        raise ValueError("truncated arrow: validity bitmap too short")
    bits = np.unpackbits(np.frombuffer(vbuf, dtype=np.uint8),
                         bitorder="little")
    return bits[:nrows].astype(bool)


def decode_arrow_file(payload: bytes) -> dict:
    """Footer → schema + Block index → per-batch RecordBatch decode
    → per-file census. ValueError-only."""
    if len(payload) < 20 or payload[:6] != b"ARROW1" \
            or payload[-6:] != b"ARROW1":
        raise ValueError("not an arrow file: bad magic")
    flen = _i32(payload, len(payload) - 10)
    fstart = len(payload) - 10 - flen
    if flen <= 0 or fstart < 8:
        raise ValueError("malformed arrow: footer length out of range")
    fb = payload[fstart : len(payload) - 10]
    root = _u32(fb, 0)
    # Footer table: 0 version, 1 schema, 2 dictionaries,
    # 3 recordBatches (vector of 24-byte Block structs)
    schema_pos = _fb_offset(fb, root, 1)
    if not schema_pos:
        raise ValueError("malformed arrow: footer has no schema")
    fields = _parse_schema(fb, schema_pos)
    dicts_pos = _fb_offset(fb, root, 2)
    if dicts_pos and _fb_vec(fb, dicts_pos)[0]:
        raise ValueError("unsupported arrow: dictionary batches")
    rb_pos = _fb_offset(fb, root, 3)
    if not rb_pos:
        raise ValueError("malformed arrow: no record batches")
    nb, ep = _fb_vec(fb, rb_pos)
    if nb == 0 or nb > 1_000_000:
        raise ValueError("malformed arrow: bad record-batch count")
    if ep + 24 * nb > len(fb):
        raise ValueError("truncated arrow: block index overruns footer")
    stats = {"n_batches": nb, "n_rows": 0, "n_cols": len(fields),
             "n_nulls": 0, "id_sum": 0, "qx_sum": 0, "s_chars": 0,
             "b_true": 0}
    for k in range(nb):
        # Block struct: i64 offset, i32 metaDataLength (+4 pad),
        # i64 bodyLength
        bp = ep + 24 * k
        off = _i64(fb, bp)
        mlen = _i32(fb, bp + 8)
        blen = _i64(fb, bp + 16)
        if off < 8 or mlen < 16 or blen < 0 \
                or off + mlen + blen > len(payload):
            raise ValueError("malformed arrow: block overruns file")
        if _u32(payload, off) != 0xFFFFFFFF:
            raise ValueError("malformed arrow: missing continuation marker")
        msize = _i32(payload, off + 4)
        if msize <= 0 or off + 8 + msize > len(payload):
            raise ValueError("malformed arrow: message size out of range")
        m = payload[off + 8 : off + 8 + msize]
        body = payload[off + mlen : off + mlen + blen]
        _decode_batch(m, body, fields, stats)
    return stats


def _decode_batch(m: bytes, body: bytes, fields: list[tuple[str, str]],
                  stats: dict) -> None:
    mroot = _u32(m, 0)
    # Message table: 0 version, 1 header_type (union tag),
    # 2 header, 3 bodyLength; MessageHeader.RecordBatch = 3
    htype = _fb_scalar(m, mroot, 1, _u8, 0)
    if htype != 3:
        raise ValueError(f"unsupported arrow message header: {htype}")
    hpos = _fb_offset(m, mroot, 2)
    if not hpos:
        raise ValueError("malformed arrow: message has no header")
    # RecordBatch table: 0 length, 1 nodes, 2 buffers, 3 compression
    nrows = _fb_scalar(m, hpos, 0, _i64, 0)
    if nrows < 0:
        raise ValueError("malformed arrow: negative batch length")
    if _fb_offset(m, hpos, 3):
        raise ValueError("unsupported arrow: compressed body")
    nodes_pos = _fb_offset(m, hpos, 1)
    bufs_pos = _fb_offset(m, hpos, 2)
    if not nodes_pos or not bufs_pos:
        raise ValueError("malformed arrow: batch missing nodes/buffers")
    if nrows > 8 * len(body) + 64:
        # every supported layout needs ≥ nrows/8 body bytes (bit-packed
        # bool is the densest) — a declared length past that is a lie,
        # and all-valid columns with omitted validity bitmaps would
        # otherwise allocate nrows-sized masks for it
        raise ValueError("malformed arrow: batch length exceeds body")
    nn, nep = _fb_vec(m, nodes_pos)
    nbuf, bep = _fb_vec(m, bufs_pos)
    if nn != len(fields):
        raise ValueError("malformed arrow: node count != field count")
    if nep + 16 * nn > len(m) or bep + 16 * nbuf > len(m):
        raise ValueError("truncated arrow: node/buffer vector overrun")
    # FieldNode / Buffer are both 16-byte (i64, i64) structs inline
    nodes = [(_i64(m, nep + 16 * j), _i64(m, nep + 16 * j + 8))
             for j in range(nn)]
    bufs = [(_i64(m, bep + 16 * j), _i64(m, bep + 16 * j + 8))
            for j in range(nbuf)]

    bi = 0

    def nxt() -> bytes:
        nonlocal bi
        if bi >= len(bufs):
            raise ValueError("malformed arrow: batch ran out of buffers")
        o, ln = bufs[bi]
        bi += 1
        if o < 0 or ln < 0 or o + ln > len(body):
            raise ValueError("malformed arrow: buffer overruns body")
        return body[o : o + ln]

    stats["n_rows"] += nrows
    for (_name, tname), (nlen, ncount) in zip(fields, nodes):
        if nlen != nrows:
            raise ValueError("malformed arrow: node length != batch length")
        if ncount < 0 or ncount > nrows:
            raise ValueError("malformed arrow: null_count out of range")
        mask = _valid_mask(nxt(), nrows)
        seen_nulls = int(nrows - mask.sum())
        if seen_nulls != ncount:
            raise ValueError(
                "malformed arrow: validity bitmap disagrees with "
                "declared null_count"
            )
        stats["n_nulls"] += ncount
        if tname == "int64":
            dbuf = nxt()
            if len(dbuf) < 8 * nrows:
                raise ValueError("truncated arrow: int64 data buffer")
            vals = np.frombuffer(dbuf[: 8 * nrows], dtype="<i8")
            stats["id_sum"] += int(vals[mask].sum())
        elif tname == "float64":
            dbuf = nxt()
            if len(dbuf) < 8 * nrows:
                raise ValueError("truncated arrow: float64 data buffer")
            vals = np.frombuffer(dbuf[: 8 * nrows], dtype="<f8")[mask]
            if not np.all(np.isfinite(vals)) \
                    or (vals.size and np.abs(vals).max() >= 2.0**60):
                # NaN/inf/out-of-int64-range would be UB in the
                # vectorized cast; the avro decoder's int(float)
                # raises on NaN here too
                raise ValueError("malformed arrow: float value out of "
                                 "census range")
            # fixture doubles are exact eighths → 8·x is integer-exact
            stats["qx_sum"] += int((vals * 8).astype(np.int64).sum())
        elif tname == "utf8":
            obuf = nxt()
            if len(obuf) < 4 * (nrows + 1):
                raise ValueError("truncated arrow: utf8 offsets buffer")
            offs = np.frombuffer(obuf[: 4 * (nrows + 1)], dtype="<i4") \
                .astype(np.int64)
            dbuf = nxt()
            if np.any(np.diff(offs) < 0) or offs[0] < 0 \
                    or offs[-1] > len(dbuf):
                raise ValueError("malformed arrow: utf8 offsets not "
                                 "monotone within data buffer")
            stats["s_chars"] += int((offs[1:] - offs[:-1])[mask].sum())
        else:  # bool: bit-packed data buffer
            dmask = _valid_mask(nxt(), nrows)
            stats["b_true"] += int((dmask & mask).sum())


# ---------- fixture + registered op ----------


def encode_arrow_ipc(i: int) -> bytes:
    """One fixture file's bytes via pyarrow's REFERENCE writer — the
    decoder is validated against the ecosystem's canonical output,
    and the fuzz harness mutates exactly these bytes."""
    import pyarrow as pa

    schema = pa.schema([
        pa.field("id", pa.int64()),
        pa.field("x", pa.float64()),
        pa.field("s", pa.utf8()),
        pa.field("b", pa.bool_()),
    ])
    n = 200 + 61 * i
    rows = [_row_vals(i, r) for r in range(n)]
    sink = pa.BufferOutputStream()
    with pa.ipc.new_file(sink, schema) as w:
        for b0 in range(0, n, _BATCH_ROWS):
            chunk = rows[b0 : b0 + _BATCH_ROWS]
            w.write_batch(pa.record_batch(
                [
                    pa.array([c[0] for c in chunk], pa.int64()),
                    pa.array([c[1] for c in chunk], pa.float64()),
                    pa.array([c[2] for c in chunk], pa.utf8()),
                    pa.array([c[3] for c in chunk], pa.bool_()),
                ],
                schema=schema,
            ))
    return sink.getvalue().to_pybytes()


@_fixture
def _fx_arrow_ipc(spark: SparkSession, sf_dir: str) -> None:
    import os

    out_dir = _scratch(sf_dir, "real_arrow_ipc")
    os.makedirs(out_dir, exist_ok=True)
    for i in range(_N_ARROW):
        p = f"{out_dir}/part-{i:03d}.arrow"
        if os.path.exists(p):
            continue
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(encode_arrow_ipc(i))
        os.replace(tmp, p)


_AR_COLS = ("n_batches n_rows n_cols n_nulls id_sum qx_sum s_chars "
            "b_true").split()

_ARROW_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_ARROW})) AS i),
    m AS (SELECT i, 200 + 61 * i AS n FROM files),
    rows_ AS (SELECT i, n, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, n, r,
      CASE WHEN r % 7 = 3 THEN NULL ELSE r * 5 + i END AS id,
      CASE WHEN r % 5 = 4 THEN NULL ELSE (r * 11 + i) % 400 END AS qx,
      CASE WHEN r % 11 = 6 THEN NULL
           ELSE length(printf('s%d', CAST(r % 13 AS INT))) END AS sc,
      CASE WHEN r % 13 = 9 THEN NULL
           ELSE CASE WHEN r % 3 = 0 THEN 1 ELSE 0 END END AS bt
     FROM rows_)
    SELECT printf('part-%03d.arrow', CAST(i AS INT)) AS fname,
      CAST((MAX(n) + {_BATCH_ROWS - 1}) // {_BATCH_ROWS} AS BIGINT)
        AS n_batches,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(4 AS BIGINT) AS n_cols,
      CAST(SUM((id IS NULL)::INT + (qx IS NULL)::INT
             + (sc IS NULL)::INT + (bt IS NULL)::INT) AS BIGINT)
        AS n_nulls,
      CAST(SUM(COALESCE(id, 0)) AS BIGINT) AS id_sum,
      CAST(SUM(COALESCE(qx, 0)) AS BIGINT) AS qx_sum,
      CAST(SUM(COALESCE(sc, 0)) AS BIGINT) AS s_chars,
      CAST(SUM(COALESCE(bt, 0)) AS BIGINT) AS b_true
    FROM v GROUP BY i
"""


@register(
    "scan_arrow_ipc",
    _ARROW_ORACLE,
    doc="Arrow IPC file (Feather v2) decode from raw bytes with a "
    "hand-walked flatbuffers layer: ARROW1 magic both ends, footer "
    "(schema + Block index), per-batch continuation-marker check, "
    "RecordBatch FieldNode/Buffer walk, validity-bitmap null "
    "recount validated against the declared null_count — int64/"
    "float64/utf8/bool value census hash-checked against the "
    "fixture formula",
)
def scan_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-native twin of ``scan_parquet_footer``: Feather v2 /
    Arrow IPC is the zero-copy interchange format of the Arrow
    ecosystem, and triage (batch index, row counts, null census,
    value checksums) is the first pass before any conversion job.
    The flatbuffers vtable walk is decoded by hand — same posture as
    the protobuf wire decode in ``orc_meta.py`` — so the reader has
    no dependency on the Arrow IPC library it is auditing. Fixture
    doubles are exact eighths (Σ 8·x stays integer); all four
    columns carry nulls on distinct residue classes so the bitmap-
    vs-declared null_count cross-check is exercised on every batch.

    Scale: see module docstring — the footer Block index makes one
    huge file batch-splittable across tasks, the row-group analog of
    parquet; buffer sums are numpy-vectorized over the raw message
    body, no per-row Python.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _AR_COLS)
    return decode_files(
        spark, _scratch(sf_dir, "real_arrow_ipc"), "*.arrow",
        decode_arrow_file, schema,
    )


# ---------- the STREAM format (no footer; forward message walk) ----------

_N_ARROW_STREAM = 3
_STREAM_BATCH = 41


def _stream_rows(i: int) -> int:
    return 150 + 83 * i


def _stream_vals(i: int, r: int):
    rid = None if r % 6 == 2 else r * 7 + i
    x = None if r % 9 == 5 else ((r * 5 + i) % 320) / 8.0
    s = None if r % 8 == 1 else f"t{r % 11}"
    b = None if r % 10 == 7 else (r % 4 == 0)
    return rid, x, s, b


def encode_arrow_stream(i: int) -> bytes:
    """The STREAM wire protocol via pyarrow's reference writer:
    Schema message, RecordBatch messages, end-of-stream marker —
    no footer, no Block index."""
    import pyarrow as pa

    schema = pa.schema([
        pa.field("id", pa.int64()),
        pa.field("x", pa.float64()),
        pa.field("s", pa.utf8()),
        pa.field("b", pa.bool_()),
    ])
    n = _stream_rows(i)
    rows = [_stream_vals(i, r) for r in range(n)]
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema) as w:
        for b0 in range(0, n, _STREAM_BATCH):
            chunk = rows[b0 : b0 + _STREAM_BATCH]
            w.write_batch(pa.record_batch(
                [
                    pa.array([c[0] for c in chunk], pa.int64()),
                    pa.array([c[1] for c in chunk], pa.float64()),
                    pa.array([c[2] for c in chunk], pa.utf8()),
                    pa.array([c[3] for c in chunk], pa.bool_()),
                ],
                schema=schema,
            ))
    return sink.getvalue().to_pybytes()


def decode_arrow_stream(payload: bytes) -> dict:
    """Forward walk of the Arrow IPC STREAM format: continuation
    marker + metadata size per message, Schema first, RecordBatch
    bodies located by the Message's own bodyLength field, explicit
    end-of-stream marker required. ValueError-only."""
    p = 0
    fields: list[tuple[str, str]] | None = None
    stats = {"n_batches": 0, "n_rows": 0, "n_cols": 0, "n_nulls": 0,
             "id_sum": 0, "qx_sum": 0, "s_chars": 0, "b_true": 0}
    saw_eos = False
    while p < len(payload):
        if _u32(payload, p) != 0xFFFFFFFF:
            raise ValueError("malformed arrow stream: missing "
                             "continuation marker")
        msize = _i32(payload, p + 4)
        if msize == 0:  # end-of-stream
            saw_eos = True
            p += 8
            break
        if msize < 0 or p + 8 + msize > len(payload):
            raise ValueError("malformed arrow stream: message size "
                             "out of range")
        m = payload[p + 8 : p + 8 + msize]
        mroot = _u32(m, 0)
        htype = _fb_scalar(m, mroot, 1, _u8, 0)
        blen = _fb_scalar(m, mroot, 3, _i64, 0)
        if blen < 0 or p + 8 + msize + blen > len(payload):
            raise ValueError("malformed arrow stream: body overruns")
        body = payload[p + 8 + msize : p + 8 + msize + blen]
        if fields is None:
            if htype != 1:  # MessageHeader.Schema
                raise ValueError("malformed arrow stream: first "
                                 "message is not a Schema")
            spos = _fb_offset(m, mroot, 2)
            if not spos:
                raise ValueError("malformed arrow stream: empty schema "
                                 "message")
            fields = _parse_schema(m, spos)
            stats["n_cols"] = len(fields)
        else:
            if htype != 3:
                raise ValueError(
                    f"unsupported arrow message header: {htype}"
                )
            _decode_batch(m, body, fields, stats)
            stats["n_batches"] += 1
        p += 8 + msize + blen
    if fields is None:
        raise ValueError("truncated arrow stream: no schema")
    if not saw_eos:
        raise ValueError("truncated arrow stream: missing end-of-"
                         "stream marker")
    if p != len(payload):
        raise ValueError("malformed arrow stream: trailing bytes")
    if stats["n_batches"] == 0:
        raise ValueError("malformed arrow stream: no record batches")
    return stats


@_fixture
def _fx_arrow_stream(spark: SparkSession, sf_dir: str) -> None:
    import os

    out_dir = _scratch(sf_dir, "real_arrow_stream")
    os.makedirs(out_dir, exist_ok=True)
    for i in range(_N_ARROW_STREAM):
        p = f"{out_dir}/part-{i:03d}.arrows"
        if os.path.exists(p):
            continue
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(encode_arrow_stream(i))
        os.replace(tmp, p)


_STREAM_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_ARROW_STREAM})) AS i),
    m AS (SELECT i, 150 + 83 * i AS n FROM files),
    rows_ AS (SELECT i, n, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, n, r,
      CASE WHEN r % 6 = 2 THEN NULL ELSE r * 7 + i END AS id,
      CASE WHEN r % 9 = 5 THEN NULL ELSE (r * 5 + i) % 320 END AS qx,
      CASE WHEN r % 8 = 1 THEN NULL
           ELSE length(printf('t%d', CAST(r % 11 AS INT))) END AS sc,
      CASE WHEN r % 10 = 7 THEN NULL
           ELSE CASE WHEN r % 4 = 0 THEN 1 ELSE 0 END END AS bt
     FROM rows_)
    SELECT printf('part-%03d.arrows', CAST(i AS INT)) AS fname,
      CAST((MAX(n) + {_STREAM_BATCH - 1}) // {_STREAM_BATCH} AS BIGINT)
        AS n_batches,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(4 AS BIGINT) AS n_cols,
      CAST(SUM((id IS NULL)::INT + (qx IS NULL)::INT
             + (sc IS NULL)::INT + (bt IS NULL)::INT) AS BIGINT)
        AS n_nulls,
      CAST(SUM(COALESCE(id, 0)) AS BIGINT) AS id_sum,
      CAST(SUM(COALESCE(qx, 0)) AS BIGINT) AS qx_sum,
      CAST(SUM(COALESCE(sc, 0)) AS BIGINT) AS s_chars,
      CAST(SUM(COALESCE(bt, 0)) AS BIGINT) AS b_true
    FROM v GROUP BY i
"""


@register(
    "scan_arrow_stream",
    _STREAM_ORACLE,
    doc="Arrow IPC STREAM format decode (the Flight / socket wire "
    "protocol): forward message walk with continuation markers, "
    "Schema-first ordering enforced, bodies located by each "
    "Message's own bodyLength, explicit end-of-stream marker "
    "required — same hand-walked flatbuffers layer and "
    "validity-recount contract as scan_arrow_ipc, census "
    "hash-checked against the fixture formula",
)
def scan_arrow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other Arrow wire protocol: the FILE format (scan_arrow_
    ipc) is seekable via its footer Block index; the STREAM format
    is what Flight sockets, IPC pipes, and .arrows spools carry —
    no footer, so a reader must walk messages forward and trust
    each Message's declared sizes, and truncation is detected ONLY
    by the explicit end-of-stream marker (which this decoder
    requires). Both protocols share one batch decoder, so the
    validity-bitmap null recount certifies this path too.

    Scale: streams are sequential by construction (that is their
    point); parallelism is per-file/per-socket, and the decode work
    is the same numpy-vectorized buffer math as the file variant.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _AR_COLS)
    return decode_files(
        spark, _scratch(sf_dir, "real_arrow_stream"), "*.arrows",
        decode_arrow_stream, schema,
    )
