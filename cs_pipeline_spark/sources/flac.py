"""Real FLAC metadata decode — dependency-free block walker.

FLAC is the lossless-audio twin of sources/wav.py's PCM path: archival
speech/music corpora ship as .flac far more often than .wav. This
module follows the ``sources/gif.py``/``mp4.py`` pattern: a
pure-python (stdlib ``struct``) FLAC *writer* that emits real streams
— ``fLaC`` magic, STREAMINFO with its bit-packed 20-bit sample rate /
3-bit channels / 5-bit bit-depth / 36-bit total-sample fields,
optional SEEKTABLE, a VORBIS_COMMENT block (whose integers are
LITTLE-endian inside an otherwise big-endian format — the classic
parser trap), optional PADDING, the is-last block flag, then opaque
audio frames — plus a *parser* that walks the block chain and reduces
each file to one metadata row.

Malformed input raises ValueError only (the jpeg.py/wav.py/mp4.py
crawl contract, pinned by tests/test_parser_fuzz.py): every read is
bounds-checked; a STREAMINFO that is not first, a block that overruns
the payload, or a comment list that overruns its block all surface as
one catchable type.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: per-file mapInPandas over a binaryFile scan; the walk reads
header-proportional bytes (audio frames are counted by length, never
decoded) and only a ~12-column row per file leaves the Python worker.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_FLACS = 8
_F_RATES = (8000, 16000, 22050, 44100, 48000, 96000, 11025, 32000)


def _flac_meta(i: int) -> dict:
    rate = _F_RATES[i]
    total = 10000 + 3333 * i
    return {
        "sample_rate": rate,
        "channels": 1 + i % 4,
        "bits": (8, 16, 24)[i % 3],
        "total_samples": total,
        "duration_ms": total * 1000 // rate,
        "fixed_blocksize": 1 if i % 2 == 0 else 0,
        "n_comments": i % 4,
        "n_seekpoints": 2 + i if i % 2 == 0 else 0,
        "padding_bytes": 64 + 8 * i if i % 3 == 0 else 0,
        "audio_bytes": 300 + 21 * i,
        "n_blocks": 2  # STREAMINFO + VORBIS_COMMENT, always present
        + (1 if i % 2 == 0 else 0)  # SEEKTABLE
        + (1 if i % 3 == 0 else 0),  # PADDING
    }


# ---------- writer ----------


def _mblock(btype: int, body: bytes, last: bool = False) -> bytes:
    if len(body) >= 1 << 24:
        raise ValueError("metadata block too large")
    hdr = ((0x80 if last else 0) | btype).to_bytes(1, "big")
    return hdr + len(body).to_bytes(3, "big") + body


def encode_flac(i: int) -> bytes:
    """Emit a real FLAC byte stream for fixture clip i: STREAMINFO
    (bit-packed), SEEKTABLE on even clips, VORBIS_COMMENT with its
    little-endian lengths, PADDING on every third clip, is-last flag
    on the final block, then formula audio-frame bytes."""
    m = _flac_meta(i)
    # STREAMINFO: min/max block, min/max frame, packed 8 bytes, md5
    bs = 1024
    max_bs = bs if m["fixed_blocksize"] else bs + 512
    packed = (
        (m["sample_rate"] << 44)
        | ((m["channels"] - 1) << 41)
        | ((m["bits"] - 1) << 36)
        | m["total_samples"]
    )
    si = struct.pack(">HH", bs, max_bs)
    si += (100 + i).to_bytes(3, "big") + (9000 + i).to_bytes(3, "big")
    si += packed.to_bytes(8, "big")
    si += bytes((k * 7 + i) % 256 for k in range(16))  # md5 (formula)
    blocks = [(0, si)]
    if m["n_seekpoints"]:
        st = b"".join(
            struct.pack(">QQH", k * 4096, k * 2048, 1024)
            for k in range(m["n_seekpoints"])
        )
        blocks.append((3, st))
    # VORBIS_COMMENT — integers are LITTLE-endian in this block
    vendor = f"cs-pipeline-fixture-{i}".encode()
    vc = struct.pack("<I", len(vendor)) + vendor
    vc += struct.pack("<I", m["n_comments"])
    for c in range(m["n_comments"]):
        kv = f"TAG{c}=value-{i}-{c}".encode()
        vc += struct.pack("<I", len(kv)) + kv
    blocks.append((4, vc))
    if m["padding_bytes"]:
        blocks.append((1, b"\x00" * m["padding_bytes"]))
    out = bytearray(b"fLaC")
    for k, (btype, body) in enumerate(blocks):
        out += _mblock(btype, body, last=(k == len(blocks) - 1))
    out += bytes((k * 19 + i * 5) % 256 for k in range(m["audio_bytes"]))
    return bytes(out)


# ---------- parser (the op under test) ----------

_F_COLS = (
    "sample_rate channels bits total_samples duration_ms "
    "fixed_blocksize n_comments n_seekpoints padding_bytes "
    "audio_bytes n_blocks"
).split()


def decode_flac_meta(payload: bytes) -> dict:
    """Walk the FLAC metadata chain: bit-packed STREAMINFO fields,
    seek-point census, Vorbis comment count (little-endian lengths),
    padding size, block count, trailing audio-frame byte count.
    Raises ValueError on anything malformed."""
    if len(payload) < 4 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC: bad magic")
    meta = {c: 0 for c in _F_COLS}
    pos, first, last_seen = 4, True, False
    while not last_seen:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC: short block header")
        hdr = payload[pos]
        btype, last_seen = hdr & 0x7F, bool(hdr & 0x80)
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body_off = pos + 4
        end = body_off + blen
        if end > len(payload):
            raise ValueError("truncated FLAC: block overruns payload")
        body = payload[body_off:end]
        if first and btype != 0:
            raise ValueError("malformed FLAC: first block not STREAMINFO")
        first = False
        meta["n_blocks"] += 1
        if btype == 0:  # STREAMINFO
            if blen != 34:
                raise ValueError("malformed FLAC: STREAMINFO length != 34")
            min_bs, max_bs = struct.unpack(">HH", body[:4])
            packed = int.from_bytes(body[10:18], "big")
            meta["sample_rate"] = packed >> 44
            meta["channels"] = ((packed >> 41) & 0x7) + 1
            meta["bits"] = ((packed >> 36) & 0x1F) + 1
            meta["total_samples"] = packed & ((1 << 36) - 1)
            if meta["sample_rate"] == 0:
                raise ValueError("malformed FLAC: zero sample rate")
            meta["duration_ms"] = (
                meta["total_samples"] * 1000 // meta["sample_rate"]
            )
            meta["fixed_blocksize"] = 1 if min_bs == max_bs else 0
        elif btype == 1:  # PADDING
            meta["padding_bytes"] += blen
        elif btype == 3:  # SEEKTABLE — 18 bytes per point
            if blen % 18:
                raise ValueError("malformed FLAC: seektable length % 18")
            meta["n_seekpoints"] += blen // 18
        elif btype == 4:  # VORBIS_COMMENT — little-endian lengths
            p = 0
            if p + 4 > blen:
                raise ValueError("truncated FLAC: vorbis vendor length")
            vlen = struct.unpack("<I", body[p : p + 4])[0]
            p += 4 + vlen
            if p + 4 > blen:
                raise ValueError("truncated FLAC: vorbis comment count")
            n = struct.unpack("<I", body[p : p + 4])[0]
            p += 4
            for _ in range(n):
                if p + 4 > blen:
                    raise ValueError("truncated FLAC: comment length")
                clen = struct.unpack("<I", body[p : p + 4])[0]
                p += 4 + clen
                if p > blen:
                    raise ValueError("truncated FLAC: comment overruns")
            meta["n_comments"] += n
        elif btype == 127:
            raise ValueError("malformed FLAC: invalid block type 127")
        pos = end
    meta["audio_bytes"] = len(payload) - pos
    return meta


# ---------- fixtures + registered op ----------


def write_flac_fixtures(out_dir: str) -> list[str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(_N_FLACS):
        p = f"{out_dir}/clip-{i:03d}.flac"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_flac(i))
            os.replace(tmp, p)
        paths.append(p)
    return paths


@_fixture
def _fx_flac_clips(spark: SparkSession, sf_dir: str) -> None:
    write_flac_fixtures(_scratch(sf_dir, "real_flacs"))


_RATE_SQL = "CASE " + " ".join(
    f"WHEN i = {i} THEN {r}" for i, r in enumerate(_F_RATES)
) + " END"

_FLAC_ORACLE = f"""
    SELECT printf('clip-%03d.flac', CAST(i AS INT)) AS fname,
           CAST({_RATE_SQL} AS BIGINT) AS sample_rate,
           CAST(1 + i % 4 AS BIGINT) AS channels,
           CAST(CASE i % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
                AS BIGINT) AS bits,
           CAST(10000 + 3333 * i AS BIGINT) AS total_samples,
           CAST((10000 + 3333 * i) * 1000 // ({_RATE_SQL}) AS BIGINT)
             AS duration_ms,
           CAST(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS fixed_blocksize,
           CAST(i % 4 AS BIGINT) AS n_comments,
           CAST(CASE WHEN i % 2 = 0 THEN 2 + i ELSE 0 END AS BIGINT)
             AS n_seekpoints,
           CAST(CASE WHEN i % 3 = 0 THEN 64 + 8 * i ELSE 0 END AS BIGINT)
             AS padding_bytes,
           CAST(300 + 21 * i AS BIGINT) AS audio_bytes,
           CAST(2 + (CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocks
    FROM (SELECT unnest(range(0, {_N_FLACS})) AS i)
"""


@register(
    "mm_decode_flac_meta",
    _FLAC_ORACLE,
    doc="REAL FLAC metadata decode: binaryFile + mapInPandas walk of "
    "the metadata-block chain — bit-packed STREAMINFO (20-bit rate / "
    "3-bit channels / 5-bit depth / 36-bit sample count), seek-point "
    "census, little-endian Vorbis comment count, padding size, "
    "audio-frame byte count — hash-checked against the fixture formula",
)
def mm_decode_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-audio metadata on REAL bytes — the archival twin of
    mm_decode_wav (speech corpora ship FLAC). 8 fixture clips sweep
    all eight sample rates, 1–4 channels, 8/16/24-bit depth, fixed
    and variable blocksize, 0–3 Vorbis comments, seektables, and
    padding. The two branch traps are the little-endian integers
    inside the Vorbis block (everything else in FLAC is big-endian)
    and the 36-bit sample count straddling byte boundaries; both are
    pinned by the formula hash.

    Scale: see module docstring — per-file mapInPandas, audio frames
    skipped by length, one row per file out.
    """
    schema = "fname string, " + ", ".join(f"{c} long" for c in _F_COLS)
    return decode_files(
        spark, _scratch(sf_dir, "real_flacs"), "*.flac",
        decode_flac_meta, schema,
    )
