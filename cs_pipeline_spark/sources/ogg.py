"""Real Ogg/Opus container decode — dependency-free page walker.

Opus-in-Ogg is the standard for speech corpora collected from VoIP /
podcast / web sources (WebM audio sidecars, archive.org speech).
This module follows the ``sources/gif.py``/``mp3.py`` pattern: a
pure-python *writer* that emits real Ogg streams — page headers with
BOS/EOS flags, little-endian granule positions, true page CRCs
(CRC-32/MPEG-style forward polynomial 0x04C11DB7, init 0, computed
with the CRC field zeroed — NOT zlib's reflected crc32, the classic
trap), and lacing tables where a 255 value continues a packet into
the next lacing slot — plus an ``OpusHead`` BOS packet (channel
count, pre-skip, input rate) — and a *parser* that walks pages,
verifies every CRC, counts lacing-terminated packets, and converts
the final granule position to a duration at the Opus-mandated 48 kHz
clock minus pre-skip.

Malformed input raises ValueError only (the crawl contract, pinned by
tests/test_parser_fuzz.py): bad capture pattern, CRC mismatch, a
lacing table or payload overrunning the stream, or a missing
OpusHead all surface as one catchable type.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: per-file mapInPandas over a binaryFile scan; page headers are
27 + n_segments bytes and payloads are skipped by lacing sums (CRC
verification does touch payload bytes — the integrity check IS the
point on a crawl path; drop to header-only by skipping the CRC when
throughput beats integrity).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_OGGS = 6
_OPUS_CLOCK = 48000
_SPP = 960  # samples per 20 ms Opus packet at 48 kHz


def _ogg_meta(i: int) -> dict:
    n_audio_pages = 4 + i
    pkts = [2 + (p + i) % 3 for p in range(n_audio_pages)]
    sizes = [
        [200 + 61 * ((p + k + i) % 3) for k in range(n)]
        for p, n in enumerate(pkts)
    ]
    total_pkts = sum(pkts)
    return {
        "channels": 1 + i % 2,
        "pre_skip": 312 + 10 * i,
        "input_rate": (8000, 16000, 24000, 48000, 12000, 44100)[i],
        "n_comments": i % 3,
        "n_pages": 2 + n_audio_pages,
        "n_audio_packets": total_pkts,
        "audio_bytes": sum(sum(s) for s in sizes),
        "duration_ms": total_pkts * _SPP * 1000 // _OPUS_CLOCK,
        "pkts": pkts,
        "sizes": sizes,
    }


# ---------- CRC (forward 0x04C11DB7, init 0 — NOT zlib crc32) ----------

_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _r & 0x80000000 \
            else (_r << 1) & 0xFFFFFFFF
    _CRC_TABLE.append(_r)


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[(crc >> 24) ^ b]
    return crc


# ---------- writer ----------


def _page(header_type: int, granule: int, serial: int, seq: int,
          packets: list[bytes]) -> bytes:
    lacing = bytearray()
    payload = bytearray()
    for pkt in packets:
        n_full, rem = divmod(len(pkt), 255)
        lacing += b"\xff" * n_full + bytes([rem])
        payload += pkt
    hdr = b"OggS" + bytes([0, header_type]) + struct.pack(
        "<qIII", granule, serial, seq, 0
    ) + bytes([len(lacing)]) + bytes(lacing)
    page = hdr + bytes(payload)
    crc = _ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


def encode_ogg(i: int) -> bytes:
    m = _ogg_meta(i)
    serial = 0x1000 + i
    head = (b"OpusHead" + bytes([1, m["channels"]])
            + struct.pack("<H", m["pre_skip"])
            + struct.pack("<I", m["input_rate"])
            + struct.pack("<h", 0) + bytes([0]))
    vendor = f"cs-pipeline-{i}".encode()
    tags = (b"OpusTags" + struct.pack("<I", len(vendor)) + vendor
            + struct.pack("<I", m["n_comments"]))
    for c in range(m["n_comments"]):
        kv = f"K{c}=v{i}".encode()
        tags += struct.pack("<I", len(kv)) + kv
    out = bytearray()
    out += _page(0x02, 0, serial, 0, [head])      # BOS
    out += _page(0x00, 0, serial, 1, [tags])
    done = 0
    for p, n in enumerate(m["pkts"]):
        done += n
        pkts = [bytes((k * 29 + j * 3 + i) % 256
                      for j in range(m["sizes"][p][k]))
                for k in range(n)]
        flags = 0x04 if p == len(m["pkts"]) - 1 else 0x00  # EOS last
        granule = m["pre_skip"] + done * _SPP
        out += _page(flags, granule, serial, 2 + p, pkts)
    return bytes(out)


# ---------- parser (the op under test) ----------

_O_COLS = (
    "n_pages n_audio_packets channels pre_skip input_rate "
    "audio_bytes duration_ms"
).split()


def decode_ogg_meta(payload: bytes) -> dict:
    """Walk Ogg pages: verify every page CRC, count lacing-terminated
    packets, parse OpusHead from the BOS page, and derive duration
    from the final granule position minus pre-skip at the 48 kHz
    Opus clock. Raises ValueError on anything malformed."""
    pos = 0
    n_pages = 0
    n_pkts = 0
    audio_bytes = 0
    meta: dict | None = None
    last_granule = 0
    saw_eos = False
    while pos < len(payload):
        if saw_eos:
            raise ValueError("malformed Ogg: data after EOS page")
        if pos + 27 > len(payload):
            raise ValueError("truncated Ogg: short page header")
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("malformed Ogg: bad capture pattern")
        if payload[pos + 4] != 0:
            raise ValueError("unsupported Ogg: stream version != 0")
        htype = payload[pos + 5]
        granule, _serial, _seq, stored_crc = struct.unpack(
            "<qIII", payload[pos + 6 : pos + 26]
        )
        n_seg = payload[pos + 26]
        lace_end = pos + 27 + n_seg
        if lace_end > len(payload):
            raise ValueError("truncated Ogg: lacing table overruns")
        lacing = payload[pos + 27 : lace_end]
        body_len = sum(lacing)
        end = lace_end + body_len
        if end > len(payload):
            raise ValueError("truncated Ogg: page payload overruns")
        page = bytearray(payload[pos:end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != stored_crc:
            raise ValueError("malformed Ogg: page CRC mismatch")
        n_pages += 1
        body = payload[lace_end:end]
        if htype & 0x02:  # BOS: OpusHead
            if body[:8] != b"OpusHead" or len(body) < 19:
                raise ValueError("malformed Ogg: BOS is not OpusHead")
            meta = {
                "channels": body[9],
                "pre_skip": struct.unpack("<H", body[10:12])[0],
                "input_rate": struct.unpack("<I", body[12:16])[0],
            }
        elif body[:8] != b"OpusTags":  # audio page
            n_pkts += sum(1 for v in lacing if v < 255)
            audio_bytes += body_len
            last_granule = granule
        if htype & 0x04:
            saw_eos = True
        pos = end
    if meta is None:
        raise ValueError("malformed Ogg: no OpusHead BOS page")
    if not saw_eos:
        raise ValueError("truncated Ogg: missing EOS page")
    samples = max(0, last_granule - meta["pre_skip"])
    return {
        "n_pages": n_pages,
        "n_audio_packets": n_pkts,
        "channels": meta["channels"],
        "pre_skip": meta["pre_skip"],
        "input_rate": meta["input_rate"],
        "audio_bytes": audio_bytes,
        "duration_ms": samples * 1000 // _OPUS_CLOCK,
    }


# ---------- fixtures + registered op ----------


def write_ogg_fixtures(out_dir: str) -> list[str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(_N_OGGS):
        p = f"{out_dir}/voice-{i:03d}.opus"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_ogg(i))
            os.replace(tmp, p)
        paths.append(p)
    return paths


@_fixture
def _fx_ogg_voices(spark: SparkSession, sf_dir: str) -> None:
    write_ogg_fixtures(_scratch(sf_dir, "real_oggs"))


_RATE_SQL = "CASE a.i " + " ".join(
    f"WHEN {i} THEN {r}"
    for i, r in enumerate((8000, 16000, 24000, 48000, 12000, 44100))
) + " END"

_OGG_ORACLE = f"""
    WITH voices AS (SELECT unnest(range(0, {_N_OGGS})) AS i),
    pages AS (SELECT i, unnest(range(0, 4 + i)) AS p FROM voices),
    pp AS (SELECT i, p, 2 + (p + i) % 3 AS n FROM pages),
    pkts AS (SELECT i, p, unnest(range(0, n)) AS k FROM pp),
    sized AS (SELECT i, p, k,
                     200 + 61 * ((p + k + i) % 3) AS bytes
              FROM pkts),
    agg AS (SELECT i, COUNT(*) AS n_audio_packets,
                   SUM(bytes) AS audio_bytes
            FROM sized GROUP BY i)
    SELECT printf('voice-%03d.opus', CAST(a.i AS INT)) AS fname,
           CAST(2 + 4 + a.i AS BIGINT) AS n_pages,
           CAST(a.n_audio_packets AS BIGINT) AS n_audio_packets,
           CAST(1 + a.i % 2 AS BIGINT) AS channels,
           CAST(312 + 10 * a.i AS BIGINT) AS pre_skip,
           CAST({_RATE_SQL} AS BIGINT) AS input_rate,
           CAST(a.audio_bytes AS BIGINT) AS audio_bytes,
           CAST(a.n_audio_packets * {_SPP} * 1000 // {_OPUS_CLOCK}
                AS BIGINT) AS duration_ms
    FROM agg a
"""


@register(
    "mm_decode_ogg_meta",
    _OGG_ORACLE,
    doc="REAL Ogg/Opus container decode: binaryFile + mapInPandas page "
    "walk — forward-polynomial page CRC verified on every page, "
    "lacing-terminated packet census (255-continuation handled), "
    "OpusHead channels/pre-skip/input-rate, duration from the final "
    "granule at the 48 kHz Opus clock — hash-checked against the "
    "fixture formula",
)
def mm_decode_ogg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VoIP/podcast audio container, walked for real: 6 fixture
    streams sweep mono/stereo, all common input rates, 0–2 comment
    tags, and packet sizes crossing 255 bytes so lacing continuation
    values appear in every audio page. Two branch traps: the CRC is
    the FORWARD 0x04C11DB7 polynomial with zero init (zlib's
    reflected crc32 never matches), and a packet is counted at each
    lacing value < 255, not per lacing slot.

    Scale: see module docstring — per-file mapInPandas; CRC touches
    payload bytes by design (integrity on the crawl path), skippable
    for header-only probes.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _O_COLS)
    return decode_files(
        spark, _scratch(sf_dir, "real_oggs"), "*.opus",
        decode_ogg_meta, schema,
    )
