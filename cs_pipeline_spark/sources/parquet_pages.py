"""Parquet DATA-PAGE decode — values verified byte-level, no reader.

`scan_parquet_footer` (sources/parquet_footer.py) stops at metadata:
it can say what the footer DECLARES but cannot verify a single data
byte. This module walks one typed column's page stream — dictionary
page (PLAIN int64) + v1 data pages (RLE/bit-packed hybrid definition
levels and dictionary indices, PLAIN fallback) — through a
dependency-free raw-SNAPPY decompressor, and cross-checks the footer
contract: decoded row count == declared num_rows, plus an exact value
checksum the oracle recomputes by formula. All field ids and wire
layouts are from the public parquet-format spec (parquet.thrift,
Encodings.md, Compression.md) and the public snappy format
description.

Why it matters for a 100 TB lake: footer-only audits pass on files
whose pages are silently corrupt (bad flush, truncated upload layered
under a stale footer). Page-level decode of ONE cheap column (ids are
dictionary-compressed — KBs per row group) catches desyncs that
footer checks structurally cannot.

Scale: per-file mapInPandas over a binaryFile scan — embarrassingly
parallel, no shuffle; per file the walk reads only the audited
column's chunks (offset + total_compressed_size slices), not the
whole file, which is exactly the ranged-read plan a column reader
issues on object storage.

Malformed input raises ValueError only (tests/test_parser_fuzz.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.parquet_footer import (
    _N_PQ,
    _T_BINARY,
    _T_LIST,
    _T_STRUCT,
    _TC,
    _read_i,
    _read_list_of_structs,
)
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files


def snappy_decompress(buf: bytes) -> bytes:
    """Raw-snappy block decode (the format parquet's SNAPPY codec
    wraps): varint uncompressed length, then literal/copy tags.
    ValueError-only."""
    p = 0
    ulen = 0
    shift = 0
    for _ in range(5):
        if p >= len(buf):
            raise ValueError("snappy: truncated preamble")
        b = buf[p]
        p += 1
        ulen |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    else:
        raise ValueError("snappy: preamble varint too long")
    out = bytearray()
    while p < len(buf):
        tag = buf[p]
        p += 1
        t = tag & 3
        if t == 0:  # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                nb = ln - 60
                if p + nb > len(buf):
                    raise ValueError("snappy: literal length truncated")
                ln = int.from_bytes(buf[p : p + nb], "little") + 1
                p += nb
            if p + ln > len(buf) or len(out) + ln > ulen:
                raise ValueError("snappy: literal overruns")
            out += buf[p : p + ln]
            p += ln
        else:  # back-reference copy (may overlap, LZ77-style)
            if t == 1:
                ln = ((tag >> 2) & 7) + 4
                if p >= len(buf):
                    raise ValueError("snappy: copy1 truncated")
                off = ((tag >> 5) << 8) | buf[p]
                p += 1
            elif t == 2:
                ln = (tag >> 2) + 1
                if p + 2 > len(buf):
                    raise ValueError("snappy: copy2 truncated")
                off = int.from_bytes(buf[p : p + 2], "little")
                p += 2
            else:
                ln = (tag >> 2) + 1
                if p + 4 > len(buf):
                    raise ValueError("snappy: copy4 truncated")
                off = int.from_bytes(buf[p : p + 4], "little")
                p += 4
            if off == 0 or off > len(out) or len(out) + ln > ulen:
                raise ValueError("snappy: bad copy")
            for _ in range(ln):
                out.append(out[-off])
    if len(out) != ulen:
        raise ValueError("snappy: output length mismatch")
    return bytes(out)


def lz4_decompress(buf: bytes, max_out: int = 1 << 26) -> bytes:
    """Raw LZ4 BLOCK decode (the format parquet's LZ4_RAW codec id 7
    wraps — no frame header): per sequence a token byte (high nibble
    literal length, low nibble match length − 4, 15 = extension
    bytes), literals, then a 2-byte LE match offset + overlapping
    LZ77 copy; the final sequence is literals-only. Public LZ4 block
    format spec. ValueError-only."""
    out = bytearray()
    p = 0
    while p < len(buf):
        tok = buf[p]
        p += 1
        ln = tok >> 4
        if ln == 15:
            while True:
                if p >= len(buf):
                    raise ValueError("lz4: literal length truncated")
                b = buf[p]
                p += 1
                ln += b
                if b != 255:
                    break
        if p + ln > len(buf) or len(out) + ln > max_out:
            raise ValueError("lz4: literal overruns")
        out += buf[p : p + ln]
        p += ln
        if p >= len(buf):
            break  # last sequence: literals only, no match
        if p + 2 > len(buf):
            raise ValueError("lz4: match offset truncated")
        off = int.from_bytes(buf[p : p + 2], "little")
        p += 2
        ml = (tok & 15) + 4
        if tok & 15 == 15:
            while True:
                if p >= len(buf):
                    raise ValueError("lz4: match length truncated")
                b = buf[p]
                p += 1
                ml += b
                if b != 255:
                    break
        if off == 0 or off > len(out) or len(out) + ml > max_out:
            raise ValueError("lz4: bad match copy")
        start = len(out) - off
        for i in range(ml):  # may overlap, LZ77-style
            out.append(out[start + i])
    return bytes(out)


def rle_bp_decode(
    buf: bytes, p: int, bit_width: int, count: int
) -> tuple[list[int], int]:
    """Parquet RLE/bit-packed hybrid → exactly ``count`` values
    (bit-packed groups may pad ≤ 7 trailing values). Returns (values,
    next offset). ValueError-only."""
    if bit_width == 0:
        return [0] * count, p
    if bit_width > 32:
        raise ValueError("rle: bit width out of range")
    mask = (1 << bit_width) - 1
    out: list[int] = []
    while len(out) < count:
        h = 0
        shift = 0
        for _ in range(5):
            if p >= len(buf):
                raise ValueError("rle: truncated run header")
            b = buf[p]
            p += 1
            h |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        else:
            raise ValueError("rle: header varint too long")
        remaining = count - len(out)
        if h & 1:  # bit-packed: (h>>1) groups of 8 values
            groups = h >> 1
            if groups * 8 > remaining + 7:
                raise ValueError("rle: bit-packed run overshoots count")
            nb = groups * bit_width
            if p + nb > len(buf):
                raise ValueError("rle: bit-packed bytes truncated")
            chunk = int.from_bytes(buf[p : p + nb], "little")
            p += nb
            for k in range(groups * 8):
                out.append((chunk >> (k * bit_width)) & mask)
        else:  # RLE run: (h>>1) copies of one fixed-width value
            run = h >> 1
            if run > remaining:
                raise ValueError("rle: run overshoots count")
            wb = (bit_width + 7) // 8
            if p + wb > len(buf):
                raise ValueError("rle: run value truncated")
            v = int.from_bytes(buf[p : p + wb], "little")
            p += wb
            out.extend([v] * run)
    return out[:count], p


# thrift handlers (public parquet.thrift field ids)


def _read_struct_h(handlers: dict):
    def fn(r: _TC, t: int, d: int) -> dict:
        if t != _T_STRUCT:
            raise ValueError("malformed parquet: expected struct")
        return r.read_struct(handlers, d)

    return fn


def _read_strlist(r: _TC, t: int, _d: int) -> list[bytes]:
    if t != _T_LIST:
        raise ValueError("malformed parquet: expected path list")
    size, et = r.list_header()
    if et != _T_BINARY:
        raise ValueError("malformed parquet: path not strings")
    return [r.string() for _ in range(size)]


# PageHeader: type / uncompressed_page_size / compressed_page_size /
# data_page_header{num_values, encoding} / dictionary_page_header
_DATAHDR = {1: _read_i, 2: _read_i, 3: _read_i, 4: _read_i}
_DICTHDR = {1: _read_i, 2: _read_i}
_PAGEHDR = {
    1: _read_i,
    2: _read_i,
    3: _read_i,
    5: _read_struct_h(_DATAHDR),
    7: _read_struct_h(_DICTHDR),
}
# ColumnMetaData: type/path/codec/num_values/total_compressed_size/
# data_page_offset/dictionary_page_offset
_COLMETA_P = {
    1: _read_i,
    3: _read_strlist,
    4: _read_i,
    5: _read_i,
    7: _read_i,
    9: _read_i,
    11: _read_i,
}
_COLCHUNK_P = {3: _read_struct_h(_COLMETA_P)}
_ROWGROUP_P = {1: _read_list_of_structs(_COLCHUNK_P), 3: _read_i}
_FILEMETA_P = {3: _read_i, 4: _read_list_of_structs(_ROWGROUP_P)}

_TYPE_INT64 = 2
_CODEC_UNCOMPRESSED, _CODEC_SNAPPY, _CODEC_LZ4_RAW = 0, 1, 7
_PG_DATA, _PG_DICT = 0, 2
_ENC_PLAIN, _ENC_PLAIN_DICT, _ENC_RLE_DICT = 0, 2, 8


def _plain_i64_dict(raw: bytes, dn: int) -> list[int]:
    if len(raw) != 8 * dn:
        raise ValueError("malformed parquet: dict page size")
    return [
        int.from_bytes(raw[8 * k : 8 * k + 8], "little", signed=True)
        for k in range(dn)
    ]


def _plain_i64_values(raw: bytes, q: int, ndef: int) -> list[int]:
    if q + 8 * ndef > len(raw):
        raise ValueError("malformed parquet: plain values truncated")
    return [
        int.from_bytes(raw[q + 8 * k : q + 8 * k + 8], "little",
                       signed=True)
        for k in range(ndef)
    ]


def _plain_ba_list(raw: bytes, q: int, count: int,
                   exact: bool) -> list[bytes]:
    """PLAIN BYTE_ARRAY: count × (4-byte LE length + bytes)."""
    out: list[bytes] = []
    for _ in range(count):
        if q + 4 > len(raw):
            raise ValueError("malformed parquet: byte-array length "
                             "truncated")
        ln = int.from_bytes(raw[q : q + 4], "little")
        q += 4
        if q + ln > len(raw):
            raise ValueError("malformed parquet: byte-array overruns")
        out.append(raw[q : q + ln])
        q += ln
    if exact and q != len(raw):
        raise ValueError("malformed parquet: dict page trailing bytes")
    return out


_TYPE_BYTE_ARRAY = 6

_CODECS = {
    # physical type id -> (parse_dict(raw, dn), parse_plain(raw, q, n))
    _TYPE_INT64: (
        _plain_i64_dict,
        _plain_i64_values,
    ),
    _TYPE_BYTE_ARRAY: (
        lambda raw, dn: _plain_ba_list(raw, 0, dn, exact=True),
        lambda raw, q, ndef: _plain_ba_list(raw, q, ndef, exact=False),
    ),
}


def _walk_column_pages(
    payload: bytes, col: bytes, type_id: int, on_value
) -> dict:
    """Generic page-stream walk for one column of ``type_id``:
    dictionary page (PLAIN values) + v1 data pages (def levels +
    RLE/bit-packed dictionary indices, PLAIN fallback), snappy or
    uncompressed; calls ``on_value`` per decoded value and returns
    the page census. ValueError-only."""
    if (
        len(payload) < 12
        or payload[:4] != b"PAR1"
        or payload[-4:] != b"PAR1"
    ):
        raise ValueError("not a parquet file: bad magic")
    flen = int.from_bytes(payload[-8:-4], "little")
    if flen <= 0 or flen + 8 > len(payload):
        raise ValueError("malformed parquet: footer length outside file")
    fm = _TC(payload[-8 - flen : -8]).read_struct(_FILEMETA_P)
    if 3 not in fm or 4 not in fm:
        raise ValueError("malformed parquet: footer missing rows/groups")
    parse_dict, parse_plain = _CODECS[type_id]
    rows_dec = n_data = n_dict = 0
    found = False
    for rg in fm[4]:
        for ch in rg.get(1, []):
            m = ch.get(3, {})
            if m.get(3) != [col]:
                continue
            found = True
            if m.get(1) != type_id:
                raise ValueError("unsupported parquet: audited column "
                                 "has unexpected physical type")
            codec = m.get(4)
            nv, tcs = m.get(5), m.get(7)
            doff, dictoff = m.get(9), m.get(11)
            if nv is None or tcs is None or doff is None or tcs < 0:
                raise ValueError("malformed parquet: chunk meta missing")
            start = doff if dictoff is None else min(doff, dictoff)
            end = start + tcs
            if start < 0 or end > len(payload):
                raise ValueError("malformed parquet: chunk overruns file")
            p = start
            dictvals: list[int] | None = None
            seen = 0
            while seen < nv:
                r = _TC(payload[p:end])
                h = r.read_struct(_PAGEHDR)
                body = p + r.p
                ptype, usize, csize = h.get(1), h.get(2), h.get(3)
                if ptype is None or usize is None or csize is None \
                        or csize < 0 or usize < 0:
                    raise ValueError("malformed parquet: page header")
                if body + csize > end:
                    raise ValueError("malformed parquet: page overruns")
                raw = payload[body : body + csize]
                if codec == _CODEC_SNAPPY:
                    raw = snappy_decompress(raw)
                elif codec == _CODEC_LZ4_RAW:
                    raw = lz4_decompress(raw, max_out=usize)
                elif codec != _CODEC_UNCOMPRESSED:
                    raise ValueError("unsupported parquet codec")
                if len(raw) != usize:
                    raise ValueError("malformed parquet: page size "
                                     "mismatch after decompress")
                if ptype == _PG_DICT:
                    dh = h.get(7, {})
                    dn = dh.get(1)
                    if dn is None or dn < 0 or dh.get(2) not in (
                        _ENC_PLAIN, _ENC_PLAIN_DICT,
                    ):
                        raise ValueError("malformed parquet: dict page")
                    dictvals = parse_dict(raw, dn)
                    n_dict += 1
                elif ptype == _PG_DATA:
                    dh = h.get(5, {})
                    pn, enc = dh.get(1), dh.get(2)
                    if pn is None or pn <= 0 or enc is None:
                        raise ValueError(
                            "malformed parquet: data page header"
                        )
                    q = 0
                    # v1 pages: definition levels (the column is
                    # nullable, max level 1) as 4-byte length + hybrid
                    if q + 4 > len(raw):
                        raise ValueError(
                            "malformed parquet: def levels truncated"
                        )
                    dlen = int.from_bytes(raw[q : q + 4], "little")
                    q += 4
                    if q + dlen > len(raw):
                        raise ValueError(
                            "malformed parquet: def levels overrun"
                        )
                    dls, _ = rle_bp_decode(raw[q : q + dlen], 0, 1, pn)
                    q += dlen
                    ndef = sum(dls)
                    if enc in (_ENC_PLAIN_DICT, _ENC_RLE_DICT):
                        if dictvals is None:
                            raise ValueError(
                                "malformed parquet: indices before "
                                "dictionary page"
                            )
                        if q >= len(raw):
                            raise ValueError(
                                "malformed parquet: indices truncated"
                            )
                        bw = raw[q]
                        q += 1
                        idxs, _ = rle_bp_decode(raw, q, bw, ndef)
                        for ix in idxs:
                            if ix >= len(dictvals):
                                raise ValueError(
                                    "malformed parquet: dict index "
                                    "out of range"
                                )
                            on_value(dictvals[ix])
                    elif enc == _ENC_PLAIN:
                        for v in parse_plain(raw, q, ndef):
                            on_value(v)
                    else:
                        raise ValueError(
                            f"unsupported parquet encoding {enc}"
                        )
                    rows_dec += ndef
                    seen += pn
                    n_data += 1
                else:
                    raise ValueError(
                        f"unsupported parquet page type {ptype}"
                    )
                p = body + csize
    if not found:
        raise ValueError("malformed parquet: audited column not found")
    return {
        "n_rgs": len(fm[4]),
        "n_dict_pages": n_dict,
        "n_data_pages": n_data,
        "rows_decoded": rows_dec,
        "rows_footer": fm[3],
        "rows_match": 1 if rows_dec == fm[3] else 0,
    }


def decode_parquet_column_pages(
    payload: bytes, col: bytes = b"a"
) -> dict:
    """INT64 column page decode → census + exact value sum (see
    `_walk_column_pages`). ValueError-only."""
    acc = [0]

    def on_value(v: int) -> None:
        acc[0] += v

    m = _walk_column_pages(payload, col, _TYPE_INT64, on_value)
    m["a_sum"] = acc[0]
    return m


def decode_parquet_string_pages(
    payload: bytes, col: bytes = b"c"
) -> dict:
    """BYTE_ARRAY (string) column page decode → census + exact UTF-8
    byte mass, the string-path twin of the INT64 sum: PLAIN byte
    arrays are 4-byte-LE-length-prefixed both in the dictionary page
    and in fallback data pages. ValueError-only."""
    acc = [0]

    def on_value(v: bytes) -> None:
        acc[0] += len(v)

    m = _walk_column_pages(payload, col, _TYPE_BYTE_ARRAY, on_value)
    m["c_chars"] = acc[0]
    return m


_PP_COLS = (
    "n_rgs n_dict_pages n_data_pages rows_decoded rows_footer "
    "rows_match a_sum".split()
)

# fixture formulas (sources/parquet_footer.py _pq_meta / writer):
# n = 1000 + 137 i rows, row groups of 256 + 32 i; column a = k*7 + i
_PP_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_PQ})) AS i),
    m AS (SELECT i, 1000 + 137 * i AS n, 256 + 32 * i AS rgs
          FROM files)
    SELECT printf('tbl-%03d.parquet', CAST(i AS INT)) AS fname,
           CAST((n + rgs - 1) // rgs AS BIGINT) AS n_rgs,
           CAST((n + rgs - 1) // rgs AS BIGINT) AS n_dict_pages,
           CAST((n + rgs - 1) // rgs AS BIGINT) AS n_data_pages,
           CAST(n AS BIGINT) AS rows_decoded,
           CAST(n AS BIGINT) AS rows_footer,
           CAST(1 AS BIGINT) AS rows_match,
           CAST(7 * (n * (n - 1) // 2) + i * n AS BIGINT) AS a_sum
    FROM m
"""


@register(
    "scan_parquet_data_pages",
    _PP_ORACLE,
    doc="parquet DATA-PAGE decode for the id column: dictionary page "
    "(PLAIN int64) + v1 data pages (RLE/bit-packed def levels and "
    "dictionary indices) through a dependency-free raw-snappy "
    "decompressor — decoded row count cross-checked against the "
    "footer's declared num_rows and the exact value sum hash-checked "
    "against the fixture formula; one dict page per row group "
    "(pyarrow layout, asserted by the page census)",
)
def scan_parquet_data_pages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The audit `scan_parquet_footer` cannot do: verify actual DATA
    bytes. Every row group's page stream for column ``a`` decodes
    end-to-end (snappy → page framing → hybrid runs → dictionary
    lookup) and must reproduce the row count the footer declares AND
    the value sum the fixture formula states — a file with a stale
    footer over truncated pages, a codec desync, or index corruption
    fails loudly at the exact page.

    Scale: see module docstring — per-file map work over binaryFile;
    the audited column's chunks are byte-range slices (the object-
    store ranged-GET plan); no shuffle anywhere.
    """
    schema = "fname string, " + ", ".join(
        f"{c} long" for c in _PP_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_parquet_tbls"), "*.parquet",
        decode_parquet_column_pages, schema,
    )


# ====================================================================
# Column statistics decode — the footer bytes predicate pushdown
# actually reads: per-row-group min_value/max_value/null_count
# (parquet.thrift Statistics, fields 5/6/3; INT64 plain-encoded LE).
# ====================================================================


def _read_b(r: _TC, t: int, _d: int) -> bytes:
    if t != 8:  # thrift-compact BINARY
        raise ValueError("malformed parquet: expected binary stat")
    return r.string()


_STATS = {3: _read_i, 5: _read_b, 6: _read_b}
_COLMETA_S = {
    1: _read_i,
    3: _read_strlist,
    12: _read_struct_h(_STATS),
}
_COLCHUNK_S = {3: _read_struct_h(_COLMETA_S)}
_ROWGROUP_S = {1: _read_list_of_structs(_COLCHUNK_S), 3: _read_i}
_FILEMETA_S = {3: _read_i, 4: _read_list_of_structs(_ROWGROUP_S)}

_PRUNE_THRESHOLD = 5000  # demo predicate: a >= 5000


def decode_parquet_col_stats(
    payload: bytes, col: bytes = b"a"
) -> list[dict]:
    """Per-row-group Statistics for one INT64 column: min_value /
    max_value (8-byte LE) + null_count, plus the row-group pruning
    verdict for a fixed ``a >= 5000`` scan predicate — exactly the
    decision a reader's filter pushdown makes from these bytes.
    ValueError-only."""
    if (
        len(payload) < 12
        or payload[:4] != b"PAR1"
        or payload[-4:] != b"PAR1"
    ):
        raise ValueError("not a parquet file: bad magic")
    flen = int.from_bytes(payload[-8:-4], "little")
    if flen <= 0 or flen + 8 > len(payload):
        raise ValueError("malformed parquet: footer length outside file")
    fm = _TC(payload[-8 - flen : -8]).read_struct(_FILEMETA_S)
    if 4 not in fm:
        raise ValueError("malformed parquet: footer missing row groups")
    rows: list[dict] = []
    for rgi, rg in enumerate(fm[4]):
        for ch in rg.get(1, []):
            m = ch.get(3, {})
            if m.get(3) != [col]:
                continue
            if m.get(1) != _TYPE_INT64:
                raise ValueError("unsupported parquet: stats column "
                                 "must be INT64")
            st = m.get(12)
            if st is None:
                raise ValueError("malformed parquet: chunk missing "
                                 "statistics")
            bmin, bmax = st.get(6), st.get(5)
            if bmin is None or bmax is None or len(bmin) != 8 \
                    or len(bmax) != 8:
                raise ValueError("malformed parquet: bad stat encoding")
            mn = int.from_bytes(bmin, "little", signed=True)
            mx = int.from_bytes(bmax, "little", signed=True)
            if mn > mx:
                raise ValueError("malformed parquet: min > max stat")
            rows.append({
                "row_group": rgi,
                "stat_min": mn,
                "stat_max": mx,
                "null_count": st.get(3, 0),
                "prunable_ge_thresh": 1 if mx < _PRUNE_THRESHOLD else 0,
            })
    if not rows:
        raise ValueError("malformed parquet: stats column not found")
    return rows


_ST_COLS = (
    "row_group stat_min stat_max null_count prunable_ge_thresh".split()
)

_ST_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_PQ})) AS i),
    m AS (SELECT i, 1000 + 137 * i AS n, 256 + 32 * i AS rgs
          FROM files),
    rgx AS (SELECT i, n, rgs,
                   unnest(range(0, (n + rgs - 1) // rgs)) AS r
            FROM m)
    SELECT printf('tbl-%03d.parquet', CAST(i AS INT)) AS fname,
           CAST(r AS BIGINT) AS row_group,
           CAST(r * rgs * 7 + i AS BIGINT) AS stat_min,
           CAST((least(n, (r + 1) * rgs) - 1) * 7 + i AS BIGINT)
             AS stat_max,
           CAST(0 AS BIGINT) AS null_count,
           CAST(CASE WHEN (least(n, (r + 1) * rgs) - 1) * 7 + i
                          < {_PRUNE_THRESHOLD}
                     THEN 1 ELSE 0 END AS BIGINT) AS prunable_ge_thresh
    FROM rgx
"""


@register(
    "scan_parquet_col_stats",
    _ST_ORACLE,
    doc="parquet column-statistics decode: per-row-group min_value/"
    "max_value/null_count for the id column straight from the thrift "
    "footer bytes (Statistics fields 5/6/3, INT64 LE), plus the "
    "row-group pruning verdict a pushed-down `a >= 5000` predicate "
    "derives from them — hash-checked against the fixture formula",
)
def scan_parquet_col_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What predicate pushdown actually reads: zone-map min/max per
    row group. The exact formula check matters — stats that are
    merely PLAUSIBLE (right order, wrong bounds) would admit wrong
    pruning at scan time, so the oracle pins every min and max to the
    generating formula, and the pruning verdict column demonstrates
    the skip decision the stats exist for.

    Scale: footer-bytes-only per-file map work over binaryFile (one
    tail ranged GET per file at 100 TB); no shuffle. Pairs with
    scan_parquet_data_pages, which verifies the pages those row
    groups declare.
    """
    schema = "fname string, " + ", ".join(
        f"{c} long" for c in _ST_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_parquet_tbls"), "*.parquet",
        decode_parquet_col_stats, schema,
    )


_SP_COLS = (
    "n_rgs n_dict_pages n_data_pages rows_decoded rows_footer "
    "rows_match c_chars".split()
)

_SP_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_PQ})) AS i),
    m AS (SELECT i, 1000 + 137 * i AS n, 256 + 32 * i AS rgs
          FROM files),
    rows_ AS (SELECT i, n, rgs, unnest(range(0, n)) AS k FROM m)
    SELECT printf('tbl-%03d.parquet', CAST(i AS INT)) AS fname,
           CAST((MAX(n) + MAX(rgs) - 1) // MAX(rgs) AS BIGINT) AS n_rgs,
           CAST((MAX(n) + MAX(rgs) - 1) // MAX(rgs) AS BIGINT)
             AS n_dict_pages,
           CAST((MAX(n) + MAX(rgs) - 1) // MAX(rgs) AS BIGINT)
             AS n_data_pages,
           CAST(COUNT(*) AS BIGINT) AS rows_decoded,
           CAST(COUNT(*) AS BIGINT) AS rows_footer,
           CAST(1 AS BIGINT) AS rows_match,
           CAST(SUM(length(printf('r%d', CAST(k % 50 AS INT))))
                AS BIGINT) AS c_chars
    FROM rows_ GROUP BY i
"""


@register(
    "scan_parquet_string_pages",
    _SP_ORACLE,
    doc="parquet BYTE_ARRAY data-page decode for the category column: "
    "length-prefixed string dictionary page + RLE-dictionary data "
    "pages through the raw-snappy path — decoded row count "
    "cross-checked against the footer and the exact UTF-8 byte mass "
    "hash-checked against the fixture formula (the string-path twin "
    "of scan_parquet_data_pages)",
)
def scan_parquet_string_pages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strings are where page decoders break differently than ints:
    values are variable-width (4-byte LE length + bytes) so a desync
    doesn't land on a value boundary — it lands mid-string and every
    later length field is garbage, which is why the byte-mass
    checksum pins the whole stream, not just counts. Same walk,
    codec swapped (`_CODECS[_TYPE_BYTE_ARRAY]`).

    Scale: identical to scan_parquet_data_pages — per-file map work,
    the audited column's chunks only, no shuffle.
    """
    schema = "fname string, " + ", ".join(
        f"{c} long" for c in _SP_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_parquet_tbls"), "*.parquet",
        decode_parquet_string_pages, schema,
    )


# ====================================================================
# LZ4_RAW page decode — the third codec next to snappy/uncompressed.
# Parquet's historical LZ4 codec (id 5) had an incompatible framing
# mess; the format replaced it with LZ4_RAW (id 7, plain LZ4 blocks),
# which is what pyarrow writes for compression="lz4" — and what a
# triage engine must read, since it is now a common lake default.
# ====================================================================

_N_LZ4 = 4


def encode_parquet_lz4(i: int) -> bytes:
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 1100 + 141 * i
    idx = np.arange(n, dtype=np.int64)
    tbl = pa.table({
        "a": pa.array(idx * 7 + i, type=pa.int64()),
        "b": pa.array((idx % 89) / 8.0, type=pa.float64()),
        "c": pa.array([f"r{k % 47}" for k in range(n)],
                      type=pa.string()),
    })
    buf = io.BytesIO()
    pq.write_table(tbl, buf, row_group_size=288 + 37 * i,
                   compression="lz4")
    return buf.getvalue()


@_fixture
def _fx_parquet_lz4(spark: SparkSession, sf_dir: str) -> None:
    import os

    out_dir = _scratch(sf_dir, "real_parquet_lz4")
    os.makedirs(out_dir, exist_ok=True)
    for i in range(_N_LZ4):
        p = f"{out_dir}/lz4-{i:03d}.parquet"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_parquet_lz4(i))
            os.replace(tmp, p)


_LZ_ORACLE = f"""
    WITH files AS (SELECT unnest(range(0, {_N_LZ4})) AS i),
    m AS (SELECT i, 1100 + 141 * i AS n, 288 + 37 * i AS rgs
          FROM files)
    SELECT printf('lz4-%03d.parquet', CAST(i AS INT)) AS fname,
           CAST((n + rgs - 1) // rgs AS BIGINT) AS n_rgs,
           CAST((n + rgs - 1) // rgs AS BIGINT) AS n_dict_pages,
           CAST((n + rgs - 1) // rgs AS BIGINT) AS n_data_pages,
           CAST(n AS BIGINT) AS rows_decoded,
           CAST(n AS BIGINT) AS rows_footer,
           CAST(1 AS BIGINT) AS rows_match,
           CAST(7 * (n * (n - 1) // 2) + i * n AS BIGINT) AS a_sum
    FROM m
"""


@register(
    "scan_parquet_lz4_pages",
    _LZ_ORACLE,
    doc="parquet LZ4_RAW (codec 7) data-page decode for the id "
    "column: the same dictionary + RLE/bit-packed page walk as "
    "scan_parquet_data_pages but through a dependency-free raw LZ4 "
    "BLOCK decompressor (token/literals/overlapping-match copies) — "
    "decoded rows cross-checked against the footer and the exact "
    "value sum hash-checked against the fixture formula",
)
def scan_parquet_lz4_pages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Completes the page-decode codec family (uncompressed, snappy,
    LZ4_RAW — zstd pages stay triage-only in sources/zstd_frame.py
    because their compressed blocks need an FSE/Huffman stage). The
    value-sum hash pins the decompressor end-to-end: LZ4's
    overlapping-match semantics (offset < match length repeats the
    tail) is exactly the branch a naive slice-copy implementation
    gets wrong, and a single wrong byte shifts every later int64.

    Scale: identical plan shape to scan_parquet_data_pages — per-file
    ranged-slice map work over binaryFile, no shuffle.
    """
    schema = "fname string, " + ", ".join(
        f"{c} long" for c in _PP_COLS
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_parquet_lz4"), "*.parquet",
        decode_parquet_column_pages, schema,
    )
