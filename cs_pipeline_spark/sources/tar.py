"""Real TAR (ustar) shard decode — dependency-free block walker.

WebDataset-style training shards ARE tar files: samples stored as
consecutive members (``sample-000.txt`` / ``.cls`` / ``.bin``), read
sequentially at train time. ``mm_shard_manifest`` plans such shards;
this module READS them: a pure-python ustar *writer* (512-byte
headers, octal size/mtime fields, the space-padded checksum over the
header with its own field blanked, data rounded up to 512-byte
blocks, two zero terminator blocks) and a *parser* that walks the
block structure, validates magic + checksum on every header, parses
the octal fields, and emits one row per member with its block offset
— the number a 100 TB dataloader turns into an S3 range request.

Malformed input raises ValueError only (the jpeg.py/wav.py/mp4.py
crawl contract, pinned by tests/test_parser_fuzz.py): bad magic, a
checksum mismatch, a non-octal size field, or a data region that
overruns the archive all surface as one catchable type.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — including the cumulative
block offsets via a window — a full value-hash check.

Scale: per-shard mapInPandas over a binaryFile scan; the walk reads
header blocks and SKIPS data by size, so cost is proportional to
member count, not payload bytes. Emitted (member, offset) rows are
exactly the index a distributed loader shuffles instead of the tar
payloads themselves.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.scans import _fixture, _scratch, decode_files

_N_TARS = 6
_EXTS = ("txt", "cls", "bin")


def _member_size(i: int, s: int, ext: str) -> int:
    if ext == "txt":
        return 50 + 7 * s + i
    if ext == "cls":
        return 1 + (s + i) % 4
    return 200 + 31 * s  # bin


def _tar_members(i: int) -> list[tuple[str, int]]:
    """(name, size) pairs in archive order for shard i."""
    out = []
    for s in range(3 + i):
        for ext in _EXTS:
            out.append((f"sample-{s:03d}.{ext}", _member_size(i, s, ext)))
    return out


# ---------- writer ----------


def _octal(v: int, width: int) -> bytes:
    return f"{v:0{width - 1}o}".encode() + b"\x00"


def _header(name: str, size: int) -> bytes:
    h = bytearray(512)
    nb = name.encode()
    h[0 : len(nb)] = nb                      # name
    h[100:108] = _octal(0o644, 8)            # mode
    h[108:116] = _octal(0, 8)                # uid
    h[116:124] = _octal(0, 8)                # gid
    h[124:136] = _octal(size, 12)            # size (octal!)
    h[136:148] = _octal(0, 12)               # mtime
    h[148:156] = b" " * 8                    # chksum: spaces while summing
    h[156] = ord("0")                        # typeflag: regular file
    h[257:263] = b"ustar\x00"                # magic
    h[263:265] = b"00"                       # version
    chk = sum(h)
    h[148:156] = f"{chk:06o}".encode() + b"\x00 "
    return bytes(h)


def encode_tar(i: int) -> bytes:
    out = bytearray()
    for name, size in _tar_members(i):
        out += _header(name, size)
        body = bytes((k * 11 + size) % 256 for k in range(size))
        out += body
        if size % 512:
            out += b"\x00" * (512 - size % 512)
    out += b"\x00" * 1024  # two zero terminator blocks
    return bytes(out)


# ---------- parser (the op under test) ----------


def _parse_octal(field: bytes, what: str) -> int:
    s = field.rstrip(b"\x00 ").lstrip(b" ")
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError:
        raise ValueError(f"malformed TAR: non-octal {what} field") from None


def decode_tar_members(payload: bytes) -> list[dict]:
    """Walk ustar headers: per member the name (prefix-joined), octal
    size, data block count, and the member's block offset; every
    header's magic and checksum are validated. Raises ValueError on
    anything malformed."""
    members = []
    pos = 0
    while True:
        if pos + 512 > len(payload):
            raise ValueError("truncated TAR: missing terminator blocks")
        block = payload[pos : pos + 512]
        if block == b"\x00" * 512:
            break  # terminator
        if block[257:262] != b"ustar":
            raise ValueError("malformed TAR: bad ustar magic")
        stored = _parse_octal(block[148:156], "checksum")
        blanked = block[:148] + b" " * 8 + block[156:]
        if sum(blanked) != stored:
            raise ValueError("malformed TAR: header checksum mismatch")
        size = _parse_octal(block[124:136], "size")
        name = block[0:100].rstrip(b"\x00").decode("latin-1")
        prefix = block[345:500].rstrip(b"\x00").decode("latin-1")
        if prefix:
            name = prefix + "/" + name
        data_blocks = (size + 511) // 512
        end = pos + 512 + data_blocks * 512
        if end > len(payload):
            raise ValueError("truncated TAR: member data overruns")
        members.append(
            {
                "name": name,
                "size": size,
                "data_blocks": data_blocks,
                "offset_blocks": pos // 512,
            }
        )
        pos = end
    return members


# ---------- fixtures + registered op ----------


def write_tar_fixtures(out_dir: str) -> list[str]:
    import os

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(_N_TARS):
        p = f"{out_dir}/shard-{i:03d}.tar"
        if not os.path.exists(p):
            tmp = p + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_tar(i))
            os.replace(tmp, p)
        paths.append(p)
    return paths


@_fixture
def _fx_tar_shards(spark: SparkSession, sf_dir: str) -> None:
    write_tar_fixtures(_scratch(sf_dir, "real_tars"))


_TAR_ORACLE = f"""
    WITH shards AS (SELECT unnest(range(0, {_N_TARS})) AS i),
    samples AS (SELECT i, unnest(range(0, 3 + i)) AS s FROM shards),
    members AS (
      SELECT i, s, e.ord,
             printf('sample-%03d.%s', CAST(s AS INT), e.ext) AS name,
             CASE e.ext WHEN 'txt' THEN 50 + 7 * s + i
                        WHEN 'cls' THEN 1 + (s + i) % 4
                        ELSE 200 + 31 * s END AS size
      FROM samples,
           (VALUES ('txt', 0), ('cls', 1), ('bin', 2)) AS e(ext, ord)),
    sized AS (
      SELECT i, s, ord, name, size,
             (size + 511) // 512 AS data_blocks
      FROM members),
    placed AS (
      SELECT i, name, size, data_blocks,
             COALESCE(SUM(1 + data_blocks) OVER (
               PARTITION BY i ORDER BY s, ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS offset_blocks
      FROM sized)
    SELECT printf('shard-%03d.tar', CAST(i AS INT)) AS shard,
           name,
           CAST(size AS BIGINT) AS size,
           CAST(data_blocks AS BIGINT) AS data_blocks,
           CAST(offset_blocks AS BIGINT) AS offset_blocks
    FROM placed
"""


@register(
    "scan_tar_members",
    _TAR_ORACLE,
    doc="REAL ustar shard decode: binaryFile + mapInPandas block walk "
    "— per member the name, octal-parsed size, data block count, and "
    "block offset (the S3-range index), with magic + checksum "
    "validated on every header — the WebDataset reader twin of "
    "mm_shard_manifest's planner, hash-checked against the fixture "
    "formula including window-computed offsets",
)
def scan_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training shards are tars (WebDataset): 6 fixture shards hold
    3..8 samples of (txt, cls, bin) member triples whose sizes sweep
    all the 512-alignment cases (1-byte members, exact multiples via
    the formula's spread). The parser validates the space-padded
    header checksum — the field that silently rots when a shard is
    corrupted in transit — and skips data regions by size, so a
    damaged payload byte is the CHECKSUM'd header's job to catch at
    write time, while a damaged header never parses.

    Scale: see module docstring — per-shard mapInPandas, header-
    proportional reads, (member, offset) index rows out.
    """
    schema = (
        "shard string, name string, size long, data_blocks long, "
        "offset_blocks long"
    )

    return decode_files(
        spark, _scratch(sf_dir, "real_tars"), "*.tar",
        decode_tar_members, schema, name_col="shard",
    )


# ---------- WebDataset sample assembly over the member index ----------

_WDS_ORACLE = f"""
    WITH members AS ({_TAR_ORACLE}),
    keyed AS (
      SELECT shard,
             split_part(name, '.', 1) AS sample_key,
             split_part(name, '.', 2) AS ext,
             size
      FROM members)
    SELECT shard, sample_key,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           string_agg(ext, ',' ORDER BY ext) AS exts,
           CAST(SUM(size) AS BIGINT) AS sample_bytes
    FROM keyed GROUP BY shard, sample_key
"""


@register(
    "mm_wds_samples",
    _WDS_ORACLE,
    doc="WebDataset sample assembly: tar members grouped by basename "
    "key (sample-000.txt/.cls/.bin → one training sample) — member "
    "count, sorted extension list, byte mass per sample; composes the "
    "registered scan_tar_members oracle by reference",
)
def mm_wds_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step a WebDataset loader runs on the member index: members
    sharing a basename ARE one training sample; the loader needs each
    sample's completeness (which extensions are present) and byte
    mass before it issues ranged reads. Grouping key = name up to the
    first dot — the WebDataset convention.

    Scale: member-index rows (not payloads) shuffle once on
    (shard, sample_key); at 100 TB the index is ~1e-5 of payload
    bytes, and the downstream loader reads members via the
    offset_blocks ranges, never re-scanning shards.
    """
    from pyspark.sql import functions as F

    m = scan_tar_members(spark, sf_dir)
    keyed = m.select(
        "shard",
        F.split_part(F.col("name"), F.lit("."), F.lit(1)).alias(
            "sample_key"
        ),
        F.split_part(F.col("name"), F.lit("."), F.lit(2)).alias("ext"),
        "size",
    )
    return keyed.groupBy("shard", "sample_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("ext")), ",").alias(
            "exts"
        ),
        F.sum("size").cast("long").alias("sample_bytes"),
    )


# ---------- sink: pack documents into REAL WebDataset tar shards ----------

_WDS_SHARD_DOCS = 100  # docs per shard (doc_id div)


@register(
    "sink_wds_shards",
    f"""
    WITH norm AS (
      SELECT doc_id, doc_id // {_WDS_SHARD_DOCS} AS shard,
             length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS nb
      FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(nb) AS BIGINT) AS payload_bytes,
           CAST(MAX(nb) AS BIGINT) AS max_member_bytes
    FROM norm GROUP BY shard
    """,
    doc="WebDataset SINK: documents packed into REAL ustar shards "
    "(one .tar per 100-doc group, members doc-XXXXXX.txt in doc_id "
    "order, written distributed via applyInPandas), then decoded BACK "
    "with the checksummed tar walker — the write/read interop check "
    "on real payloads; census hash-checked against the documents "
    "table",
)
def sink_wds_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard WRITE path: each 100-doc group becomes one
    real tar written by an executor (atomic tmp+rename, idempotent —
    re-evaluation rewrites identical bytes), then the registered tar
    PARSER re-reads every shard and the census must reproduce the
    documents table exactly — sizes, counts, member maxima. A writer
    that mis-pads a 512 boundary or mis-sums a checksum fails the
    parser loudly; a parser bug fails the hash.

    Scale: the pack stage is one shuffle on the shard key then
    per-shard sequential writes (exactly how WebDataset shards are
    produced in production); the verify read is per-file map work.
    Shard size is the knob — 100 docs here, ~1 GB in production.

    Note: normalized text is ASCII in the driver tables, so
    length(chars) == encoded bytes; a non-ASCII corpus would census
    encode(text).
    """
    import os

    import numpy as np  # noqa: F401  (pandas dep, keeps arrow path warm)

    from cs_pipeline_spark.operators.dedup import _NORM
    from cs_pipeline_spark.sources.scans import ensure_fixtures  # noqa: F401
    from cs_pipeline_spark.tables import load
    from pyspark.sql import functions as F

    out_dir = _scratch(sf_dir, "wds_out")
    docs = load(spark, "documents", sf_dir).select(
        "doc_id",
        F.expr(_NORM).alias("s"),
        F.expr(f"doc_id div {_WDS_SHARD_DOCS}").alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        out = bytearray()
        for _, row in pdf.iterrows():
            body = str(row["s"]).encode("utf-8")
            out += _header(f"doc-{int(row['doc_id']):06d}.txt", len(body))
            out += body
            if len(body) % 512:
                out += b"\x00" * (512 - len(body) % 512)
        out += b"\x00" * 1024
        path = f"{out_dir}/wds-{shard:05d}.tar"
        if not os.path.exists(path):
            tmp = f"{path}.tmp-{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(bytes(out))
            os.replace(tmp, path)
        return pd.DataFrame({"shard": [shard], "n": [len(pdf)]})

    os.makedirs(out_dir, exist_ok=True)
    # eager bounded write stage (the sink precedent: writes happen in
    # the builder; rows here = n_shards, not corpus-scale)
    docs.groupBy("shard").applyInPandas(
        pack, schema="shard long, n long"
    ).count()

    def census_row(payload: bytes) -> dict:
        ms = decode_tar_members(payload)
        return {
            "n_members": len(ms),
            "payload_bytes": sum(m["size"] for m in ms),
            "max_member_bytes": max(m["size"] for m in ms),
        }

    census = decode_files(
        spark, out_dir, "*.tar", census_row,
        "shard string, n_members long, payload_bytes long, "
        "max_member_bytes long",
        name_col="shard",
    )
    return census.withColumn(
        "shard", F.regexp_extract("shard", r"wds-(\d+)\.", 1).cast("long")
    )
