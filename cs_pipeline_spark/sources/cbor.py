"""CBOR (RFC 8949) decode — dependency-free, spec-complete for the
core grammar including the parts MessagePack doesn't have.

CBOR is the IETF's binary object format: COSE signatures, WebAuthn
attestations, C2PA provenance manifests (the content-credentials
standard a training-data pipeline increasingly must read), and CoAP
telemetry all ship CBOR. Its grammar is a superset of msgpack's in
three ways this module deliberately exercises:

- **indefinite-length items** (additional info 31): chunked text/
  byte strings closed by the ``break`` stop code (0xFF), and
  indefinite arrays/maps — the streaming-writer encoding,
- **tags** (major type 6): semantic decoration of the next item;
  the fixture uses tag 1 (epoch seconds) on every record timestamp,
- **three float widths** on major type 7: float16 (additional info
  25 — decoded via struct's IEEE binary16 support), float32, and
  float64; the fixture alternates 16/64 so both paths run.

Wire grammar per RFC 8949 §3: every head byte is (major type << 5 |
additional info), with ai < 24 inline, 24-27 = 1/2/4/8-byte
big-endian argument, 31 = indefinite. Negative integers encode
-1 - n (major 1). The fixture is written by this module's own
minimal-canonical encoder (shortest head that fits — the RFC §4.2.1
deterministic-encoding rule) and the value census is hash-checked
against the fixture formula; the indefinite-length item COUNT is
part of the census, so the chunked-string reassembly path is
hash-certified, not just exercised.

Malformed input raises ValueError only (the crawl contract, pinned
by tests/test_parser_fuzz.py); depth and element counts bounded.

Scale: per-file mapInPandas over a binaryFile scan — concatenated
records decode sequentially within a file (self-delimiting, no sync
markers), files fan out across executors; the msgpack/JSONL reality.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_CBOR = 4
_MAX_DEPTH = 32
_MAX_ELEMS = 1_000_000
_BREAK = object()  # sentinel for the 0xFF stop code


def _n_records(i: int) -> int:
    return 350 + 123 * i


def _rec_vals(i: int, r: int):
    # ids sweep the ai<24 / 1-byte / 2-byte / 4-byte head boundaries
    rid = r * 211 + i
    neg = -((r % 300) + 1)  # crosses the 1-byte negint boundary
    v = f"cb{r % 19}"
    x = ((r * 7 + i) % 512) / 8.0  # exact in BOTH float16 and float64
    arr = [(r + t) % 50 for t in range(r % 5)]
    flag = None if r % 11 == 4 else (r % 2 == 0)
    ts = 1_700_000_000 + r * 60 + i
    blob = bytes((r + j + i) % 256 for j in range(r % 6))
    return rid, neg, v, x, arr, flag, ts, blob


def _indef_str(i: int, r: int) -> bool:
    return r % 6 == 0  # these texts encode as chunked indefinite

def _indef_arr(i: int, r: int) -> bool:
    return r % 5 == 0  # these arrays encode as indefinite


# ---------- minimal-canonical encoder ----------


def _head(major: int, arg: int) -> bytes:
    if arg < 24:
        return bytes([major << 5 | arg])
    if arg <= 0xFF:
        return bytes([major << 5 | 24, arg])
    if arg <= 0xFFFF:
        return bytes([major << 5 | 25]) + struct.pack(">H", arg)
    if arg <= 0xFFFFFFFF:
        return bytes([major << 5 | 26]) + struct.pack(">I", arg)
    return bytes([major << 5 | 27]) + struct.pack(">Q", arg)


def _enc_int(v: int) -> bytes:
    return _head(0, v) if v >= 0 else _head(1, -1 - v)


def _enc_text(s: str, indefinite: bool = False) -> bytes:
    b = s.encode()
    if not indefinite:
        return _head(3, len(b)) + b
    # two chunks + break — the streaming-writer shape
    half = len(b) // 2
    return (bytes([3 << 5 | 31])
            + _head(3, half) + b[:half]
            + _head(3, len(b) - half) + b[half:]
            + b"\xff")


def _enc_float(x: float, half: bool) -> bytes:
    if half:
        return b"\xf9" + struct.pack(">e", x)
    return b"\xfb" + struct.pack(">d", x)


def _enc_record(i: int, r: int) -> bytes:
    rid, neg, v, x, arr, flag, ts, blob = _rec_vals(i, r)
    out = bytearray(_head(5, 8))  # definite map, 8 pairs
    out += _enc_text("id") + _enc_int(rid)
    out += _enc_text("neg") + _enc_int(neg)
    out += _enc_text("v") + _enc_text(v, indefinite=_indef_str(i, r))
    out += _enc_text("x") + _enc_float(x, half=(r % 2 == 0))
    out += _enc_text("arr")
    if _indef_arr(i, r):
        out += bytes([4 << 5 | 31])
        for t in arr:
            out += _enc_int(t)
        out += b"\xff"
    else:
        out += _head(4, len(arr)) + b"".join(_enc_int(t) for t in arr)
    out += _enc_text("flag")
    if flag is None:
        out += b"\xf6"  # null
    else:
        out += b"\xf5" if flag else b"\xf4"
    out += _enc_text("ts") + _head(6, 1) + _enc_int(ts)  # tag 1
    out += _enc_text("blob") + _head(2, len(blob)) + blob
    return bytes(out)


def encode_cbor_stream(i: int) -> bytes:
    return b"".join(_enc_record(i, r) for r in range(_n_records(i)))


# ---------- decoder ----------


class _CR:
    __slots__ = ("b", "p", "n_indef")

    def __init__(self, b: bytes) -> None:
        self.b = b
        self.p = 0
        self.n_indef = 0

    def take(self, n: int) -> bytes:
        if n < 0 or self.p + n > len(self.b):
            raise ValueError("truncated cbor: payload underrun")
        s = self.b[self.p : self.p + n]
        self.p += n
        return s

    def u8(self) -> int:
        return self.take(1)[0]


def _read_arg(r: _CR, ai: int) -> int | None:
    """Argument for additional info ``ai``; None means indefinite."""
    if ai < 24:
        return ai
    if ai == 24:
        return r.u8()
    if ai == 25:
        return struct.unpack(">H", r.take(2))[0]
    if ai == 26:
        return struct.unpack(">I", r.take(4))[0]
    if ai == 27:
        return struct.unpack(">Q", r.take(8))[0]
    if ai == 31:
        return None
    raise ValueError(f"malformed cbor: reserved additional info {ai}")


def _decode_item(r: _CR, depth: int = 0, allow_break: bool = False):
    if depth > _MAX_DEPTH:
        raise ValueError("malformed cbor: nesting too deep")
    head = r.u8()
    major, ai = head >> 5, head & 0x1F
    if head == 0xFF:
        if allow_break:
            return _BREAK
        raise ValueError("malformed cbor: unexpected break code")
    if major == 7:
        # the argument bytes ARE the simple/float payload — decoded
        # here, never through _read_arg (which would re-consume them)
        if ai == 20:
            return False
        if ai == 21:
            return True
        if ai == 22:
            return None
        if ai == 23:
            return ("__undefined__",)
        if ai == 24:
            return ("__simple__", r.u8())
        if ai == 25:
            return struct.unpack(">e", r.take(2))[0]
        if ai == 26:
            return struct.unpack(">f", r.take(4))[0]
        if ai == 27:
            return struct.unpack(">d", r.take(8))[0]
        raise ValueError(f"malformed cbor: bad simple/float head {ai}")
    arg = _read_arg(r, ai)
    if major == 0:  # uint
        if arg is None:
            raise ValueError("malformed cbor: indefinite uint")
        return arg
    if major == 1:  # negint: -1 - n
        if arg is None:
            raise ValueError("malformed cbor: indefinite negint")
        return -1 - arg
    if major in (2, 3):  # bytes / text
        if arg is None:  # indefinite: chunks of the SAME major type
            r.n_indef += 1
            chunks = bytearray()
            while True:
                h2 = r.u8()
                if h2 == 0xFF:
                    break
                m2, a2 = h2 >> 5, h2 & 0x1F
                if m2 != major or a2 == 31:
                    raise ValueError("malformed cbor: bad chunk in "
                                     "indefinite string")
                ln = _read_arg(r, a2)
                if ln is None or ln > _MAX_ELEMS:
                    raise ValueError("malformed cbor: chunk too large")
                chunks += r.take(ln)
            data = bytes(chunks)
        else:
            if arg > _MAX_ELEMS:
                raise ValueError("malformed cbor: string too large")
            data = r.take(arg)
        return data if major == 2 else data.decode("utf-8", "replace")
    if major == 4:  # array
        out = []
        if arg is None:
            r.n_indef += 1
            while True:
                v = _decode_item(r, depth + 1, allow_break=True)
                if v is _BREAK:
                    return out
                out.append(v)
                if len(out) > _MAX_ELEMS:
                    raise ValueError("malformed cbor: array too large")
        if arg > _MAX_ELEMS:
            raise ValueError("malformed cbor: array too large")
        return [_decode_item(r, depth + 1) for _ in range(arg)]
    if major == 5:  # map
        out: dict = {}
        if arg is None:
            r.n_indef += 1
            while True:
                k = _decode_item(r, depth + 1, allow_break=True)
                if k is _BREAK:
                    return out
                if not isinstance(k, (str, int)):
                    raise ValueError("malformed cbor: non-scalar map key")
                out[k] = _decode_item(r, depth + 1)
                if len(out) > _MAX_ELEMS:
                    raise ValueError("malformed cbor: map too large")
        if arg > _MAX_ELEMS:
            raise ValueError("malformed cbor: map too large")
        for _ in range(arg):
            k = _decode_item(r, depth + 1)
            if not isinstance(k, (str, int)):
                raise ValueError("malformed cbor: non-scalar map key")
            out[k] = _decode_item(r, depth + 1)
        return out
    # major 6 — tag: decoration over the next item
    if arg is None:
        raise ValueError("malformed cbor: indefinite tag")
    inner = _decode_item(r, depth + 1)
    return ("__tag__", arg, inner)


def decode_cbor_stream(payload: bytes) -> dict:
    """Concatenated top-level maps → census; the indefinite-item
    count rides the hash so chunk reassembly is certified.
    ValueError-only."""
    r = _CR(payload)
    stats = {"n_records": 0, "id_sum": 0, "neg_sum": 0, "s_chars": 0,
             "qx_sum": 0, "arr_items": 0, "arr_sum": 0, "n_null": 0,
             "n_true": 0, "ts_sum": 0, "blob_bytes": 0, "n_indef": 0}
    if not payload:
        raise ValueError("truncated cbor: empty payload")
    while r.p < len(payload):
        rec = _decode_item(r)
        if not isinstance(rec, dict):
            raise ValueError("malformed cbor: top-level not a map")
        stats["n_records"] += 1
        if stats["n_records"] > _MAX_ELEMS:
            raise ValueError("malformed cbor: too many records")
        rid = rec.get("id")
        if not isinstance(rid, int):
            raise ValueError("malformed cbor: record missing int id")
        stats["id_sum"] += rid
        neg = rec.get("neg")
        if isinstance(neg, int):
            stats["neg_sum"] += neg
        v = rec.get("v")
        if isinstance(v, str):
            stats["s_chars"] += len(v)
        x = rec.get("x")
        if isinstance(x, float):
            if x != x or x in (float("inf"), float("-inf")):
                raise ValueError("malformed cbor: non-finite float")
            stats["qx_sum"] += int(x * 8)
        arr = rec.get("arr")
        if isinstance(arr, list):
            stats["arr_items"] += len(arr)
            for t in arr:
                if not isinstance(t, int):
                    raise ValueError("malformed cbor: non-int array item")
                stats["arr_sum"] += t
        flag = rec.get("flag")
        if flag is None and "flag" in rec:
            stats["n_null"] += 1
        elif flag is True:
            stats["n_true"] += 1
        ts = rec.get("ts")
        if isinstance(ts, tuple) and len(ts) == 3 and ts[0] == "__tag__":
            if ts[1] != 1 or not isinstance(ts[2], int):
                raise ValueError("malformed cbor: ts is not tag-1 epoch")
            stats["ts_sum"] += ts[2]
        blob = rec.get("blob")
        if isinstance(blob, bytes):
            stats["blob_bytes"] += len(blob)
    stats["n_indef"] = r.n_indef
    return stats


# ---------- fixture + registered op ----------


@_fixture
def _fx_cbor(spark: SparkSession, sf_dir: str) -> None:
    import os

    out_dir = _scratch(sf_dir, "real_cbor")
    os.makedirs(out_dir, exist_ok=True)
    for i in range(_N_CBOR):
        p = f"{out_dir}/part-{i:03d}.cbor"
        if os.path.exists(p):
            continue
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(encode_cbor_stream(i))
        os.replace(tmp, p)


_CB_COLS = ("n_records id_sum neg_sum s_chars qx_sum arr_items "
            "arr_sum n_null n_true ts_sum blob_bytes n_indef").split()

_CBOR_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_CBOR})) AS i),
    m AS (SELECT i, 350 + 123 * i AS n FROM files),
    rows_ AS (SELECT i, n, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, r,
      r * 211 + i AS id,
      -((r % 300) + 1) AS neg,
      length(printf('cb%d', CAST(r % 19 AS INT))) AS sc,
      (r * 7 + i) % 512 AS qx,
      r % 5 AS narr,
      -- Σ_t (r+t) % 50 for t in 0..(r%5)-1
      CASE r % 5 WHEN 0 THEN 0
                 WHEN 1 THEN r % 50
                 WHEN 2 THEN r % 50 + (r + 1) % 50
                 WHEN 3 THEN r % 50 + (r + 1) % 50 + (r + 2) % 50
                 ELSE r % 50 + (r + 1) % 50 + (r + 2) % 50
                      + (r + 3) % 50
      END AS arrsum,
      CASE WHEN r % 11 = 4 THEN 1 ELSE 0 END AS is_null,
      CASE WHEN r % 11 <> 4 AND r % 2 = 0 THEN 1 ELSE 0 END
        AS is_true,
      1700000000 + r * 60 + i AS ts,
      r % 6 AS blob_n,
      -- indefinite items per record: chunked text + indefinite array
      CASE WHEN r % 6 = 0 THEN 1 ELSE 0 END
        + CASE WHEN r % 5 = 0 THEN 1 ELSE 0 END AS indef
     FROM rows_)
    SELECT printf('part-%03d.cbor', CAST(i AS INT)) AS fname,
      CAST(COUNT(*) AS BIGINT) AS n_records,
      CAST(SUM(id) AS BIGINT) AS id_sum,
      CAST(SUM(neg) AS BIGINT) AS neg_sum,
      CAST(SUM(sc) AS BIGINT) AS s_chars,
      CAST(SUM(qx) AS BIGINT) AS qx_sum,
      CAST(SUM(narr) AS BIGINT) AS arr_items,
      CAST(SUM(arrsum) AS BIGINT) AS arr_sum,
      CAST(SUM(is_null) AS BIGINT) AS n_null,
      CAST(SUM(is_true) AS BIGINT) AS n_true,
      CAST(SUM(ts) AS BIGINT) AS ts_sum,
      CAST(SUM(blob_n) AS BIGINT) AS blob_bytes,
      CAST(SUM(indef) AS BIGINT) AS n_indef
    FROM v GROUP BY i
"""


@register(
    "scan_cbor_records",
    _CBOR_ORACLE,
    doc="CBOR (RFC 8949) concatenated-record decode from raw bytes: "
    "full head grammar (major type + additional info, 1/2/4/8-byte "
    "args), indefinite-length chunked strings and arrays with break "
    "codes (their COUNT rides the hash), tag-1 epoch timestamps, "
    "float16 AND float64 widths, minimal-canonical writer — value "
    "census hash-checked against the fixture formula",
)
def scan_cbor_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IETF object format (COSE, WebAuthn, C2PA content
    credentials): what msgpack is to Fluentd, CBOR is to signed
    provenance — and its extra grammar (indefinite-length items,
    tags, three float widths) is exactly what this decoder
    exercises. ids sweep the inline/1/2/4-byte head boundaries and
    x alternates float16/float64 (both exact eighths), so a decoder
    that muddles a single head byte desyncs and dies loudly; the
    indefinite-item count is IN the census, so the chunk-reassembly
    path is hash-certified.

    Scale: see module docstring — per-file map work over
    binaryFile; self-delimiting records, split at the file level.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _CB_COLS)
    return decode_files(
        spark, _scratch(sf_dir, "real_cbor"), "*.cbor",
        decode_cbor_stream, schema,
    )
