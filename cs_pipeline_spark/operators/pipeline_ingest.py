"""Flagship #9: dedup + index maintenance at ingest, end to end.

The production "what happens when today's batch arrives" story
(VERDICT r8 ask #7): a new embedding batch is screened against the
persisted LSH band index (``dedup_lsh_incremental``), the admitted
count is derived from the verified near-dup pairs, the batch folds
into the persisted IVF index and queries immediately retrieve it
(``sim_ivf_incremental``), and the periodic retrain quantifies
centroid drift (``sim_ivf_retrain``). Each stage is an individually
hash-checked registered op; the flagship composes them BY REFERENCE
(the crawl_ingest_e2e / anomaly_suite_e2e contract: the oracle embeds
the registered SQL of its parts, the Spark side calls the registered
builders) into one (stage, metric, value) funnel report —
structurally incapable of disagreeing with its parts.

Scale: every stage is the incremental-maintenance shape — batch ⋈
persisted index, O(batch·K) fold-in, bounded-K retrain passes; the
flagship adds only 1-row aggregates and a union. This is the funnel a
1000-executor ingest job runs nightly against a petabyte index.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register

_MOD = 10  # = dedup._INC_BATCH_MOD = similarity._IVF_BATCH_MOD


def _ingest_oracle() -> str:
    # force providers to register (import order != registration order)
    import cs_pipeline_spark.operators.dedup  # noqa: F401
    import cs_pipeline_spark.operators.similarity  # noqa: F401
    from cs_pipeline_spark.registry import _REGISTRY

    o = {
        k: _REGISTRY[k].oracle
        for k in (
            "dedup_lsh_incremental",
            "sim_ivf_incremental",
            "sim_ivf_retrain",
        )
    }
    # Each part materializes ONCE (the embedded oracles are expensive
    # full recomputes; without MATERIALIZED DuckDB would inline the
    # LSH pipeline into every UNION branch — 2^N-work, CLAUDE.md r2).
    return f"""
    WITH fpairs AS MATERIALIZED ({o['dedup_lsh_incremental']}),
    fsearch AS MATERIALIZED ({o['sim_ivf_incremental']}),
    fretrain AS MATERIALIZED ({o['sim_ivf_retrain']}),
    fdup AS MATERIALIZED (
        SELECT DISTINCT x FROM (
          SELECT vec_a AS x FROM fpairs
          WHERE vec_a % {_MOD} = 0 AND vec_b % {_MOD} <> 0
          UNION
          SELECT vec_b FROM fpairs
          WHERE vec_b % {_MOD} = 0 AND vec_a % {_MOD} <> 0
          UNION
          SELECT vec_b FROM fpairs
          WHERE vec_a % {_MOD} = 0 AND vec_b % {_MOD} = 0
        )
    )
    SELECT 'batch' AS stage, 'vectors' AS metric,
           CAST(COUNT(*) AS BIGINT) AS value
    FROM embeddings WHERE vec_id % {_MOD} = 0
    UNION ALL
    SELECT 'dedup', 'dup_pairs', CAST(COUNT(*) AS BIGINT) FROM fpairs
    UNION ALL
    SELECT 'dedup', 'dup_vectors', CAST(COUNT(*) AS BIGINT) FROM fdup
    UNION ALL
    SELECT 'dedup', 'admitted',
           CAST((SELECT COUNT(*) FROM embeddings
                 WHERE vec_id % {_MOD} = 0)
                - (SELECT COUNT(*) FROM fdup) AS BIGINT)
    UNION ALL
    SELECT 'search', 'results', CAST(COUNT(*) AS BIGINT) FROM fsearch
    UNION ALL
    SELECT 'search', 'batch_neighbors', CAST(COUNT(*) AS BIGINT)
    FROM fsearch WHERE neighbor_id % {_MOD} = 0
    UNION ALL
    SELECT 'retrain', 'max_shift_scaled',
           CAST(MAX(shift_scaled) AS BIGINT)
    FROM fretrain
    UNION ALL
    SELECT 'retrain', 'moved_abs',
           CAST(SUM(ABS(n_after - n_before)) AS BIGINT)
    FROM fretrain
    """


@register(
    "ingest_incremental_e2e",
    _ingest_oracle(),
    doc="flagship #9: the dedup+index-at-ingest funnel — batch size, "
    "verified near-dup pairs vs the persisted LSH band index, "
    "duplicate/admitted split (a batch vector is a dup if it matches "
    "the standing corpus, or the earlier member of a batch-batch "
    "pair), post-fold-in top-k results and how many retrieve batch "
    "vectors, and retrain drift (max centroid shift, gross membership "
    "moves) — one (stage, metric, value) report composed by reference "
    "from three hash-checked ops (VERDICT r8 ask #7)",
)
def ingest_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One page answering 'what did tonight's ingest do': how many
    vectors arrived, what the standing LSH index flagged (pairs, then
    distinct duplicate vectors under the keep-earliest rule), how many
    were admitted, whether the maintained ANN index retrieves the new
    batch (results + batch-neighbor hits), and what the periodic
    retrain says about drift. Composition by reference — see module
    docstring.

    Scale: three incremental-maintenance stages (each documented in
    its own op); the flagship adds five 1-row aggregates and an 8-row
    literal report.
    """
    from cs_pipeline_spark.operators.dedup import dedup_lsh_incremental
    from cs_pipeline_spark.operators.helpers import literal_df, metric_rows
    from cs_pipeline_spark.operators.similarity import (
        sim_ivf_incremental,
        sim_ivf_retrain,
    )
    from cs_pipeline_spark.registry import concurrently, pin
    from cs_pipeline_spark.tables import load

    emb = load(spark, "embeddings", sf_dir)
    # pin each stage output (pairs is read four times by two aggregates;
    # unpinned, each read re-executes the LSH pipeline). The three index
    # builds share no state beyond the memoized scan, so their builds and
    # cache writes overlap (guide §2.6).
    def stage(builder) -> DataFrame:
        df = pin(builder(spark, sf_dir))
        df.count()  # fill the cache before the aggregates share it
        return df

    stages = (dedup_lsh_incremental, sim_ivf_incremental, sim_ivf_retrain)
    pairs, search, retrain = concurrently(
        spark, [partial(stage, b) for b in stages]
    )

    is_b = lambda c: F.col(c) % _MOD == 0  # noqa: E731
    dup_vecs = (
        pairs.filter(is_b("vec_a") & ~is_b("vec_b"))
        .select(F.col("vec_a").alias("x"))
        .union(
            pairs.filter(is_b("vec_b") & ~is_b("vec_a")).select("vec_b")
        )
        .union(
            pairs.filter(is_b("vec_a") & is_b("vec_b")).select("vec_b")
        )
        .distinct()
    )
    # r11 (the mm_curate_e2e shape, guide §2.6): one concurrent
    # aggregate per input over the already-pinned stage outputs, and
    # the bounded 8-row report returns as a literal relation —
    # admitted = batch − dup_vectors is exact driver integer
    # arithmetic, identical to the crossJoin-subtract branch.
    n = F.count(F.lit(1))
    rows = metric_rows(spark, sf_dir, [
        (lambda *_: emb.filter(is_b("vec_id")), [("batch", "vectors", n)]),
        (lambda *_: pairs, [("dedup", "dup_pairs", n)]),
        (lambda *_: dup_vecs, [("dedup", "dup_vectors", n)]),
        (lambda *_: search, [
            ("search", "results", n),
            ("search", "batch_neighbors",
             F.count(F.when(is_b("neighbor_id"), 1))),
        ]),
        (lambda *_: retrain, [
            ("retrain", "max_shift_scaled", F.max("shift_scaled")),
            ("retrain", "moved_abs",
             F.sum(F.abs(F.col("n_after") - F.col("n_before")))),
        ]),
    ])
    v = {met: x for _, met, x in rows}
    rows.insert(3, ("dedup", "admitted", v["vectors"] - v["dup_vectors"]))
    return literal_df(
        spark, rows, "stage string, metric string, value long"
    )


# ---------- flagship #10: the lake-format audit ----------


def _lake_oracle() -> str:
    import cs_pipeline_spark.sources.avro_ocf  # noqa: F401
    import cs_pipeline_spark.sources.delta_dv  # noqa: F401
    import cs_pipeline_spark.sources.delta_log  # noqa: F401
    import cs_pipeline_spark.sources.hudi_timeline  # noqa: F401
    import cs_pipeline_spark.sources.iceberg  # noqa: F401
    import cs_pipeline_spark.sources.orc_meta  # noqa: F401
    import cs_pipeline_spark.sources.parquet_footer  # noqa: F401
    import cs_pipeline_spark.sources.parquet_pages  # noqa: F401
    from cs_pipeline_spark.registry import _REGISTRY

    o = {
        k: _REGISTRY[k].oracle
        for k in (
            "scan_parquet_footer",
            "scan_avro_blocks",
            "scan_delta_log",
            "scan_iceberg_manifest",
            "scan_parquet_data_pages",
            "scan_orc_postscript",
            "scan_hudi_timeline",
            "scan_delta_dv",
            "scan_iceberg_deletes",
        )
    }
    return f"""
    WITH pq AS MATERIALIZED ({o['scan_parquet_footer']}),
    av AS MATERIALIZED ({o['scan_avro_blocks']}),
    dl AS MATERIALIZED ({o['scan_delta_log']}),
    ic AS MATERIALIZED ({o['scan_iceberg_manifest']}),
    pp AS MATERIALIZED ({o['scan_parquet_data_pages']}),
    oc AS MATERIALIZED ({o['scan_orc_postscript']}),
    hu AS MATERIALIZED ({o['scan_hudi_timeline']}),
    dv AS MATERIALIZED ({o['scan_delta_dv']}),
    idl AS MATERIALIZED ({o['scan_iceberg_deletes']})
    SELECT 'parquet' AS layer, 'row_groups' AS metric,
           CAST(COUNT(*) AS BIGINT) AS value FROM pq
    UNION ALL
    SELECT 'parquet', 'rows', CAST(SUM(num_rows) AS BIGINT) FROM pq
    UNION ALL
    SELECT 'parquet', 'non_snappy_chunks',
           CAST(SUM(n_chunks - n_snappy_chunks) AS BIGINT) FROM pq
    UNION ALL
    SELECT 'avro', 'blocks', CAST(SUM(n_blocks) AS BIGINT) FROM av
    UNION ALL
    SELECT 'avro', 'rows', CAST(SUM(n_rows) AS BIGINT) FROM av
    UNION ALL
    SELECT 'avro', 'deflate_files',
           CAST(SUM(deflate) AS BIGINT) FROM av
    UNION ALL
    SELECT 'log', 'versions', CAST(COUNT(*) AS BIGINT) FROM dl
    UNION ALL
    SELECT 'log', 'live_files_head',
           CAST(MAX(CASE WHEN version = (SELECT MAX(version) FROM dl)
                         THEN n_live_files END) AS BIGINT) FROM dl
    UNION ALL
    SELECT 'log', 'net_file_growth',
           CAST(MAX(CASE WHEN version = (SELECT MAX(version) FROM dl)
                         THEN n_live_files END)
                - MAX(CASE WHEN version = 0
                           THEN n_live_files END) AS BIGINT) FROM dl
    UNION ALL
    SELECT 'iceberg', 'snapshots', CAST(COUNT(*) AS BIGINT) FROM ic
    UNION ALL
    SELECT 'iceberg', 'live_files_head',
           CAST(MAX(CASE WHEN snapshot_id =
                             (SELECT MAX(snapshot_id) FROM ic)
                         THEN n_live_files END) AS BIGINT) FROM ic
    UNION ALL
    SELECT 'iceberg', 'live_records_head',
           CAST(MAX(CASE WHEN snapshot_id =
                             (SELECT MAX(snapshot_id) FROM ic)
                         THEN live_records END) AS BIGINT) FROM ic
    UNION ALL
    SELECT 'parquet', 'rows_page_verified',
           CAST(SUM(CASE WHEN rows_match = 1 THEN rows_decoded
                         ELSE 0 END) AS BIGINT) FROM pp
    UNION ALL
    SELECT 'parquet', 'page_mismatch_files',
           CAST(SUM(1 - rows_match) AS BIGINT) FROM pp
    UNION ALL
    SELECT 'orc', 'files', CAST(COUNT(*) AS BIGINT) FROM oc
    UNION ALL
    SELECT 'orc', 'rows', CAST(SUM(n_rows) AS BIGINT) FROM oc
    UNION ALL
    SELECT 'orc', 'stripe_mismatch_files',
           CAST(SUM(1 - rows_match) AS BIGINT) FROM oc
    UNION ALL
    SELECT 'hudi', 'instants', CAST(COUNT(*) AS BIGINT) FROM hu
    UNION ALL
    SELECT 'hudi', 'file_groups_head',
           CAST(MAX(CASE WHEN instant = (SELECT MAX(instant) FROM hu)
                         THEN n_file_groups END) AS BIGINT) FROM hu
    UNION ALL
    SELECT 'hudi', 'records_head',
           CAST(MAX(CASE WHEN instant = (SELECT MAX(instant) FROM hu)
                         THEN total_records END) AS BIGINT) FROM hu
    UNION ALL
    SELECT 'dv', 'files_with_dv',
           CAST(SUM(CASE WHEN dv_cardinality > 0 THEN 1 ELSE 0 END)
                AS BIGINT) FROM dv
    UNION ALL
    SELECT 'dv', 'deleted_rows',
           CAST(SUM(dv_cardinality) AS BIGINT) FROM dv
    UNION ALL
    SELECT 'dv', 'live_rows', CAST(SUM(live_rows) AS BIGINT) FROM dv
    UNION ALL
    SELECT 'iceberg', 'pos_deletes_applied',
           CAST(SUM(n_pos_deletes) AS BIGINT) FROM idl
    UNION ALL
    SELECT 'iceberg', 'mor_live_rows',
           CAST(SUM(live_rows) AS BIGINT) FROM idl
    """


@register(
    "lake_audit_e2e",
    _lake_oracle(),
    doc="flagship #10: the lake-format audit — parquet row-group + "
    "page-decode census (byte-level thrift footer), avro block/codec "
    "census, Delta transaction-log time travel + DELETION-VECTOR "
    "row accounting (Z85+roaring), Iceberg snapshot replay + "
    "position-delete merge-on-read rows, Hudi timeline file-group "
    "census, and ORC postscript triage composed by reference into "
    "one (layer, metric, value) report; every byte-level decoder is "
    "individually hash-checked",
)
def lake_audit_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One page answering 'what is physically in the lake': columnar
    layer (row groups, rows, codec drift), row layer (avro blocks,
    rows, codec mix), metadata layer (Delta log versions, live files
    at head, net growth since version 0; Iceberg snapshots and the
    head snapshot's live files/records). Composition by reference —
    the crawl_ingest_e2e contract.

    Scale: all inputs are metadata-sized reads (footers, block
    headers, commit JSON); the flagship runs one 1-row aggregate per
    layer as concurrent jobs (guide §2.6) and returns the bounded
    25-row report as a literal relation. This is the nightly
    lake-health job.
    """
    from cs_pipeline_spark.sources.avro_ocf import scan_avro_blocks
    from cs_pipeline_spark.sources.delta_dv import scan_delta_dv
    from cs_pipeline_spark.sources.delta_log import scan_delta_log
    from cs_pipeline_spark.sources.hudi_timeline import (
        scan_hudi_timeline,
    )
    from cs_pipeline_spark.sources.iceberg import (
        scan_iceberg_deletes,
        scan_iceberg_manifest,
    )
    from cs_pipeline_spark.sources.orc_meta import scan_orc_postscript
    from cs_pipeline_spark.sources.parquet_footer import (
        scan_parquet_footer,
    )
    from cs_pipeline_spark.sources.parquet_pages import (
        scan_parquet_data_pages,
    )

    # r11: no pins — each input feeds exactly ONE aggregate job (the
    # stack rewrite already folded the per-metric branches), so the
    # cache write was pure cold overhead; sub-builder calls happen in
    # metric_rows' workers so the 9 decode plans construct and run
    # concurrently (guide §2.6).
    pq, av, dl = scan_parquet_footer, scan_avro_blocks, scan_delta_log
    ic, pp, oc = (
        scan_iceberg_manifest, scan_parquet_data_pages, scan_orc_postscript
    )
    hu, dv, idl = scan_hudi_timeline, scan_delta_dv, scan_iceberg_deletes

    # ONE aggregate per input + stack() unpivot (guide §1.2 — fewer
    # passes): the previous shape ran one aggregate BRANCH per metric
    # (25 branches, plus head-version broadcast joins), i.e. ~35 tiny
    # single-row stages of pure scheduling latency per run. Each
    # input's metrics now ride one map+agg pass; "metric at head
    # version" collapses to max(struct(version, metric)) — identical
    # to the join+max form (lexicographic max picks the max version;
    # equal versions fall back to max metric, which is exactly what
    # MAX over the version-filtered rows returned). 25 output rows,
    # same labels, same values.
    def at_head(version_col: str, metric_col: str) -> F.Column:
        return F.max(F.struct(F.col(version_col), F.col(metric_col)))[
            metric_col
        ]

    dl_head = at_head("version", "n_live_files")
    blocks = [
        (pq, [
            ("parquet", "row_groups", F.count(F.lit(1))),
            ("parquet", "rows", F.sum("num_rows")),
            ("parquet", "non_snappy_chunks",
             F.sum(F.col("n_chunks") - F.col("n_snappy_chunks"))),
        ]),
        (av, [
            ("avro", "blocks", F.sum("n_blocks")),
            ("avro", "rows", F.sum("n_rows")),
            ("avro", "deflate_files", F.sum("deflate")),
        ]),
        (dl, [
            ("log", "versions", F.count(F.lit(1))),
            ("log", "live_files_head", dl_head),
            ("log", "net_file_growth",
             dl_head - F.max(
                 F.when(F.col("version") == 0, F.col("n_live_files"))
             )),
        ]),
        (ic, [
            ("iceberg", "snapshots", F.count(F.lit(1))),
            ("iceberg", "live_files_head",
             at_head("snapshot_id", "n_live_files")),
            ("iceberg", "live_records_head",
             at_head("snapshot_id", "live_records")),
        ]),
        (pp, [
            ("parquet", "rows_page_verified",
             F.sum(
                 F.when(F.col("rows_match") == 1, F.col("rows_decoded"))
                 .otherwise(F.lit(0))
             )),
            ("parquet", "page_mismatch_files",
             F.sum(1 - F.col("rows_match"))),
        ]),
        (oc, [
            ("orc", "files", F.count(F.lit(1))),
            ("orc", "rows", F.sum("n_rows")),
            ("orc", "stripe_mismatch_files",
             F.sum(1 - F.col("rows_match"))),
        ]),
        (hu, [
            ("hudi", "instants", F.count(F.lit(1))),
            ("hudi", "file_groups_head",
             at_head("instant", "n_file_groups")),
            ("hudi", "records_head",
             at_head("instant", "total_records")),
        ]),
        (dv, [
            ("dv", "files_with_dv",
             F.sum(
                 F.when(F.col("dv_cardinality") > 0, 1).otherwise(0)
             )),
            ("dv", "deleted_rows", F.sum("dv_cardinality")),
            ("dv", "live_rows", F.sum("live_rows")),
        ]),
        (idl, [
            ("iceberg", "pos_deletes_applied", F.sum("n_pos_deletes")),
            ("iceberg", "mor_live_rows", F.sum("live_rows")),
        ]),
    ]
    from cs_pipeline_spark.operators.helpers import literal_df, metric_rows

    rows = metric_rows(spark, sf_dir, blocks)
    return literal_df(spark, rows, "layer string, metric string, value long")


# ---------- flagship #11: wire/interchange format triage ----------


def _wire_oracle() -> str:
    import cs_pipeline_spark.sources.arrow_ipc  # noqa: F401
    import cs_pipeline_spark.sources.cbor  # noqa: F401
    import cs_pipeline_spark.sources.deflate  # noqa: F401
    import cs_pipeline_spark.sources.gzip_members  # noqa: F401
    import cs_pipeline_spark.sources.msgpack  # noqa: F401
    import cs_pipeline_spark.sources.sqlite_db  # noqa: F401
    import cs_pipeline_spark.sources.torrent  # noqa: F401
    import cs_pipeline_spark.sources.xz_container  # noqa: F401
    import cs_pipeline_spark.sources.zip_cdir  # noqa: F401
    from cs_pipeline_spark.registry import _REGISTRY

    o = {
        k: _REGISTRY[k].oracle
        for k in (
            "scan_arrow_ipc",
            "scan_arrow_stream",
            "scan_msgpack_records",
            "scan_deflate_streams",
            "scan_xz_container",
            "scan_sqlite_db",
            "scan_gzip_headers",
            "scan_cbor_records",
            "scan_torrent_manifest",
            "scan_zip_central_dir",
        )
    }
    return f"""
    WITH ar AS MATERIALIZED ({o['scan_arrow_ipc']}),
    ast AS MATERIALIZED ({o['scan_arrow_stream']}),
    mp AS MATERIALIZED ({o['scan_msgpack_records']}),
    zl AS MATERIALIZED ({o['scan_deflate_streams']}),
    xz AS MATERIALIZED ({o['scan_xz_container']}),
    sq AS MATERIALIZED ({o['scan_sqlite_db']}),
    gz AS MATERIALIZED ({o['scan_gzip_headers']}),
    cb AS MATERIALIZED ({o['scan_cbor_records']}),
    tor AS MATERIALIZED ({o['scan_torrent_manifest']}),
    zc AS MATERIALIZED ({o['scan_zip_central_dir']})
    SELECT 'arrow' AS format, 'files' AS metric,
           CAST(COUNT(*) AS BIGINT) AS value FROM ar
    UNION ALL
    SELECT 'arrow', 'batches', CAST(SUM(n_batches) AS BIGINT) FROM ar
    UNION ALL
    SELECT 'arrow', 'rows', CAST(SUM(n_rows) AS BIGINT) FROM ar
    UNION ALL
    SELECT 'arrow', 'nulls', CAST(SUM(n_nulls) AS BIGINT) FROM ar
    UNION ALL
    SELECT 'msgpack', 'files', CAST(COUNT(*) AS BIGINT) FROM mp
    UNION ALL
    SELECT 'msgpack', 'records', CAST(SUM(n_records) AS BIGINT) FROM mp
    UNION ALL
    SELECT 'msgpack', 'nil_flags', CAST(SUM(n_nil) AS BIGINT) FROM mp
    UNION ALL
    SELECT 'msgpack', 'blob_bytes',
           CAST(SUM(blob_bytes) AS BIGINT) FROM mp
    UNION ALL
    SELECT 'zlib', 'files', CAST(COUNT(*) AS BIGINT) FROM zl
    UNION ALL
    SELECT 'zlib', 'streams', CAST(SUM(n_streams) AS BIGINT) FROM zl
    UNION ALL
    SELECT 'zlib', 'out_bytes', CAST(SUM(out_len) AS BIGINT) FROM zl
    UNION ALL
    SELECT 'xz', 'files', CAST(COUNT(*) AS BIGINT) FROM xz
    UNION ALL
    SELECT 'xz', 'blocks', CAST(SUM(n_blocks) AS BIGINT) FROM xz
    UNION ALL
    SELECT 'xz', 'out_bytes', CAST(SUM(out_len) AS BIGINT) FROM xz
    UNION ALL
    SELECT 'xz', 'checks_verified',
           CAST(SUM(n_crc32 + n_crc64 + n_sha256) AS BIGINT) FROM xz
    UNION ALL
    SELECT 'arrow_stream', 'batches',
           CAST(SUM(n_batches) AS BIGINT) FROM ast
    UNION ALL
    SELECT 'arrow_stream', 'rows',
           CAST(SUM(n_rows) AS BIGINT) FROM ast
    UNION ALL
    SELECT 'sqlite', 'tables', CAST(SUM(n_tables) AS BIGINT) FROM sq
    UNION ALL
    SELECT 'sqlite', 'rows', CAST(SUM(n_rows) AS BIGINT) FROM sq
    UNION ALL
    SELECT 'gzip', 'members', CAST(SUM(n_members) AS BIGINT) FROM gz
    UNION ALL
    SELECT 'gzip', 'out_bytes', CAST(SUM(out_len) AS BIGINT) FROM gz
    UNION ALL
    SELECT 'gzip', 'named_chars',
           CAST(SUM(name_chars) AS BIGINT) FROM gz
    UNION ALL
    SELECT 'cbor', 'records', CAST(SUM(n_records) AS BIGINT) FROM cb
    UNION ALL
    SELECT 'cbor', 'indefinite_items',
           CAST(SUM(n_indef) AS BIGINT) FROM cb
    UNION ALL
    SELECT 'torrent', 'pieces', CAST(SUM(n_pieces) AS BIGINT) FROM tor
    UNION ALL
    SELECT 'torrent', 'pieces_verified',
           CAST(SUM(pieces_ok) AS BIGINT) FROM tor
    UNION ALL
    SELECT 'zip', 'members', CAST(SUM(n_members) AS BIGINT) FROM zc
    UNION ALL
    SELECT 'zip', 'crc_verified', CAST(SUM(crc_ok) AS BIGINT) FROM zc
    """


@register(
    "wire_formats_e2e",
    _wire_oracle(),
    doc="flagship #11: the wire/interchange-format triage report - "
    "Arrow IPC file AND stream protocols (hand-walked flatbuffers), "
    "MessagePack record streams, hand-inflated zlib/DEFLATE "
    "multistreams, the xz container walk (CRC32/CRC64/SHA256 all "
    "verified), gzip member provenance (FNAME/FHCRC over the repo's "
    "own inflate), the SQLite b-tree decode, CBOR records, torrent "
    "piece verification, and the ZIP structural audit composed by "
    "reference into one (format, metric, value) page; every decoder "
    "is individually hash-checked",
)
def wire_formats_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One page answering 'what landed in the drop zone': columnar
    interchange (Arrow file + stream batches/rows/nulls), event-bus
    records (msgpack), app databases (SQLite tables/rows), and the
    archive codecs (zlib, xz, gzip members) with their integrity
    checks - the first triage a 100 TB ingest runs before any
    conversion. Composition by reference: the ten sub-oracles are
    the registered, hash-checked definitions (the anomaly_suite_e2e
    / mm_curate_e2e contract), so this report cannot drift from the
    parts.

    Scale: all ten inputs are per-file map work over binaryFile
    scans; the flagship adds 1-row aggregates and a 28-row union -
    metadata-scale, like lake_audit_e2e.
    """
    from cs_pipeline_spark.sources.arrow_ipc import (
        scan_arrow_ipc,
        scan_arrow_stream,
    )
    from cs_pipeline_spark.sources.cbor import scan_cbor_records
    from cs_pipeline_spark.sources.deflate import scan_deflate_streams
    from cs_pipeline_spark.sources.gzip_members import scan_gzip_headers
    from cs_pipeline_spark.sources.msgpack import scan_msgpack_records
    from cs_pipeline_spark.sources.sqlite_db import scan_sqlite_db
    from cs_pipeline_spark.sources.torrent import scan_torrent_manifest
    from cs_pipeline_spark.sources.xz_container import scan_xz_container
    from cs_pipeline_spark.sources.zip_cdir import scan_zip_central_dir

    # r11 (the mm_curate_e2e / lake_audit_e2e shape, guide §2.6): no
    # pins (each input feeds exactly ONE aggregate job), sub-builders
    # called inside metric_rows' workers, ten concurrent aggregate jobs,
    # bounded 28-row literal report. Same rows, labels, values.
    ar, ast, mp, zl, xz = (
        scan_arrow_ipc, scan_arrow_stream, scan_msgpack_records,
        scan_deflate_streams, scan_xz_container,
    )
    sq, gz, cb, tor, zc = (
        scan_sqlite_db, scan_gzip_headers, scan_cbor_records,
        scan_torrent_manifest, scan_zip_central_dir,
    )

    blocks = [
        (ar, [
            ("arrow", "files", F.count(F.lit(1))),
            ("arrow", "batches", F.sum("n_batches")),
            ("arrow", "rows", F.sum("n_rows")),
            ("arrow", "nulls", F.sum("n_nulls")),
        ]),
        (mp, [
            ("msgpack", "files", F.count(F.lit(1))),
            ("msgpack", "records", F.sum("n_records")),
            ("msgpack", "nil_flags", F.sum("n_nil")),
            ("msgpack", "blob_bytes", F.sum("blob_bytes")),
        ]),
        (zl, [
            ("zlib", "files", F.count(F.lit(1))),
            ("zlib", "streams", F.sum("n_streams")),
            ("zlib", "out_bytes", F.sum("out_len")),
        ]),
        (xz, [
            ("xz", "files", F.count(F.lit(1))),
            ("xz", "blocks", F.sum("n_blocks")),
            ("xz", "out_bytes", F.sum("out_len")),
            ("xz", "checks_verified",
             F.sum(
                 F.col("n_crc32") + F.col("n_crc64") + F.col("n_sha256")
             )),
        ]),
        (ast, [
            ("arrow_stream", "batches", F.sum("n_batches")),
            ("arrow_stream", "rows", F.sum("n_rows")),
        ]),
        (sq, [
            ("sqlite", "tables", F.sum("n_tables")),
            ("sqlite", "rows", F.sum("n_rows")),
        ]),
        (gz, [
            ("gzip", "members", F.sum("n_members")),
            ("gzip", "out_bytes", F.sum("out_len")),
            ("gzip", "named_chars", F.sum("name_chars")),
        ]),
        (cb, [
            ("cbor", "records", F.sum("n_records")),
            ("cbor", "indefinite_items", F.sum("n_indef")),
        ]),
        (tor, [
            ("torrent", "pieces", F.sum("n_pieces")),
            ("torrent", "pieces_verified", F.sum("pieces_ok")),
        ]),
        (zc, [
            ("zip", "members", F.sum("n_members")),
            ("zip", "crc_verified", F.sum("crc_ok")),
        ]),
    ]
    from cs_pipeline_spark.operators.helpers import literal_df, metric_rows

    rows = metric_rows(spark, sf_dir, blocks)
    return literal_df(spark, rows, "format string, metric string, value long")
