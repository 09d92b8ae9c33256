"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``. The LAST stdout
line is a summary-only JSON object ``{"metric", "value": total_sec,
"unit": "sec", "sf", "n_queries", "detail"}`` sized to survive the
driver's ~2000-char tail capture; the per-query cold/warm/spread dicts
are written to ``BENCH_DETAIL.json`` next to this file, and every run
appends one ``{git_sha, dirty, cpus, sf, queries, warm, spread}`` line
to the committed, append-only ``BENCH_HISTORY.jsonl`` beside it.

Each query is built from the central registry and executed to
completion with a count-style action (``df.write.format("noop")``
semantics via ``_to_java_object_rdd``-free ``count()``), so the
timing covers scan → shuffle → result, not plan construction.

Cold accounting (r10, VERDICT r9 #1/#2): warmup force-builds every
scratch fixture (index artifacts included) and asserts the sweep
marker, pinning COLD = plan + pin/localCheckpoint rebuild — one
documented mode; evictions block so async unpersists can't bleed
into the next run; and every multi-second op is re-timed in a fresh
subprocess (second JVM/session), with headline cold = min of the two
sessions and recorded spread = the cross-session delta.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# One line per run, appended and committed: the round-over-round
# per-query comparison reads it instead of the overwritten detail file.
HISTORY = os.path.join(HERE, "BENCH_HISTORY.jsonl")

# Headline set: one per pipeline family (relational agg, join-heavy,
# calendar resample, enrichment join, window, reshape, text dedup,
# fuzzy dedup, vector similarity). Keep ~10 so the bench stays a
# feedback loop, not a marathon.
HEADLINE = [
    "process_area_e2e",
    "process_point_e2e",
    "q1_pricing_summary",
    "q3_top_orders",
    "agg_resample_daily",
    "agg_resample_monthly",
    "convert_predictors",
    "join_enrich_co2",
    "join_gapfill_station",
    "win_sliding_time",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "sim_topk_bruteforce",
    "sim_hybrid_rrf",
    "features_user_rfm",
    "ts_decompose",
    "agg_market_basket",
    "graph_bfs_distance",
    "win_range_frame",
    "text_stats",
    "mm_frame_sample",
    # round-2 additions: corpus shuffle ops, range join, decontamination
    "text_keywords_rare",
    "join_interval_buckets",
    "text_contamination_check",
    "curate_corpus_e2e",
    # round-2 additions: retrieval scoring, stream-stream band join
    "text_bm25_rank",
    "stream_interval_join",
    # round-2 wave 4: graph, training assembly, IVF-PQ
    "graph_pagerank",
    "text_lm_score",
    "doc_chunk_split",
    "sim_ivf_pq_topk",
    # round-2 wave 9: bloom pre-filter, triangle census, curation,
    # changepoint
    "join_bloom_prefilter",
    "graph_triangles",
    "corpus_budget_select",
    "win_cusum_changepoint",
    "events_analytics_e2e",
    # round-2 wave 10: sliding distinct (scatter), DQ anomaly gate,
    # nearest-centroid audit
    "win_sliding_distinct",
    "dq_volume_anomaly",
    "emb_centroid_classify",
    "train_assembly_e2e",
    # round-3: in-engine ML (NB training+scoring, stump), spectral
    # periodicity, mergeable reservoir, silhouette, prefix-dim eval
    "ml_naive_bayes",
    "ml_decision_stump",
    "ts_fourier_power",
    "sample_reservoir_merge",
    "emb_silhouette",
    "emb_matryoshka_eval",
    "ml_gate_e2e",
    "ts_holt_linear",
    # round-4: ANN/dedup scale paths (hyperplane-LSH embedding dedup,
    # IVF nprobe recall sweep, connected-components clustering) + the
    # real TIFF byte decode — regressions here are 100 TB regressions
    "dedup_embedding_lsh",
    "sim_ivf_nprobe_recall",
    "dedup_clusters",
    "scan_raster_decode",
    # round-4 late wave: privacy audit family representative (4x
    # fan-out before one shuffle — the heaviest of the five)
    "privacy_generalization_ladder",
    # round-5: new families — PPS weighted sampling (two-phase prefix
    # sum), iterative BPE training, int8 calibration, Hampel despike
    "sample_pps_systematic",
    "text_bpe_train3",
    "emb_int8_calibrate",
    "win_hampel_filter",
    # round-5 late wave: walk corpus, symbolic TS index, path mining
    "graph_random_walks",
    "ts_sax_words",
    "events_path_trigrams",
    # round-6: new families — item-item CF (basket pair fan-out),
    # 2-round AdaBoost (multi-pass + rank targets), factorial ANOVA,
    # EWMA chart (blocked bounded window), RAKE phrase extraction
    "rec_item_item",
    "ml_adaboost_stumps",
    "agg_two_way_anova",
    "win_ewma_chart",
    "text_rake_keywords",
    # round-7: JPEG header decode (binaryFile + mapInPandas), depth-8
    # BPE loop (8 chained checkpoint rounds — plan-size regression
    # canary), SemDeDup funnel (kmeans + salted pair stage), index-
    # backed incremental LSH
    "mm_decode_jpeg_meta",
    "text_bpe_train8",
    "dedup_semantic_e2e",
    "dedup_lsh_incremental",
    # round-7 wave 2: O(n²)-diagonal matrix profile, 8-round greedy
    # facility location, 4-round batch perceptron
    "ts_matrix_profile",
    "corpus_facility_select",
    "ml_perceptron_batch",
    "emb_dbscan_cosine",
    "text_unigram_viterbi",
    "ts_granger_causality",
    "anomaly_suite_e2e",
    # round-8: real audio decode (RIFF/PCM via mapInPandas), the
    # baseline-JPEG DC Huffman entropy decode, arbitrary-length
    # substring dedup, incremental IVF fold-in, WordPiece training,
    # generation-eval overlap metrics, DSIR selection weights
    "mm_decode_wav",
    "mm_decode_jpeg_dc",
    "dedup_substring_repeats",
    "sim_ivf_incremental",
    "text_wordpiece_train4",
    "text_rouge_n",
    "corpus_dsir_weights",
    "mm_curate_e2e",
    # round-8 late wave: GIF/WebP container decodes, EXIF GPS PII,
    # WordPiece max-munch encode (8-step loop canary)
    "mm_decode_gif_meta",
    "mm_decode_webp_meta",
    "mm_exif_gps",
    "text_wordpiece_encode",
    # round-8 final wave: video/lossless-audio containers, GOP census,
    # silence-run trim, chrF eval, content-defined chunk dedup
    "mm_decode_mp4_meta",
    "mm_video_keyframes",
    "mm_decode_flac_meta",
    "mm_audio_silence_trim",
    "text_chrf",
    "dedup_cdc_chunks",
    "scan_tar_members",
    "mm_decode_mp3_meta",
    "mm_wds_samples",
    "scan_srt_cues",
    "mm_decode_ogg_meta",
    "mm_decode_pdf_meta",
    "text_html_extract",
    "scan_warc_records",
    "crawl_ingest_e2e",
    "scan_robots_rules",
    "text_license_detect",
    "scan_safetensors_meta",
    "mm_caption_align",
    "sink_wds_shards",
    "scan_tfrecord_meta",
    "scan_npy_header",
    "mm_decode_quarantine",
    "mm_decode_bmp",
    # round-9 wave: PDF text read path, gzip-member WARC, audio
    # spectral features, video keyframe pixels, incremental-ingest
    "text_pdf_extract",
    "scan_warc_gz_records",
    "mm_audio_features",
    "mm_video_keyframe_pixels",
    "sim_ivf_retrain",
    "ingest_incremental_e2e",
    "scan_cdx_ranged_fetch",
    "scan_parquet_footer",
    "scan_bz2_multistream",
    "text_wiki_markup_strip",
    "dedup_bloom_incremental",
    "scan_avro_blocks",
    "sink_avro_roundtrip",
    "scan_delta_log",
    "lake_audit_e2e",
    # round-10 wave: Iceberg snapshot replay, parquet data-page value
    # decode (raw snappy), ORC postscript triage, AVC SPS resolution,
    # Delta vacuum planner
    "scan_iceberg_manifest",
    "scan_parquet_data_pages",
    "scan_orc_postscript",
    "mm_video_sps_meta",
    "lake_vacuum_plan",
    "scan_delta_checkpoint",
    "lake_orphan_files",
    "scan_parquet_col_stats",
    "scan_parquet_string_pages",
    # round-10 second wave: Hudi timeline (third table format),
    # Iceberg v2 position deletes, parquet page index, zstd frame
    # walk, EBML/Matroska metadata, Delta deletion vectors
    "scan_hudi_timeline",
    "scan_iceberg_deletes",
    "scan_parquet_page_index",
    "scan_zstd_frames",
    "mm_decode_mkv_meta",
    "scan_delta_dv",
    "scan_parquet_lz4_pages",
    "scan_orc_col_stats",
    "scan_zstd_checksum",
    "scan_avro_evolved",
    "dedup_soundex_blocking",
    # round-10 provenance wave: HEVC SPS, PNG text chunks (AI-gen
    # detection), ID3v2 attribution tags
    "mm_video_hevc_meta",
    "mm_png_provenance",
    "mm_id3_tags",
    # round-10 third wave: Arrow IPC (hand-walked flatbuffers),
    # spec-complete DEFLATE inflate under the zlib wrapper
    "scan_arrow_ipc",
    "scan_deflate_streams",
    "scan_msgpack_records",
    "scan_xz_container",
    "wire_formats_e2e",
    "scan_sqlite_db",
    "scan_arrow_stream",
    "scan_gzip_headers",
    "scan_cbor_records",
    "scan_torrent_manifest",
    "scan_zip_central_dir",
]


# Multi-second ops get a CROSS-SESSION re-time (fresh subprocess =
# fresh JVM): back-to-back min-of-N inside one process samples one
# contention regime, and the recorded in-session spread (±0.002 s on
# a 7 s cold) wildly understated the true variance (5.9 → 23.6 → 5.9 s
# across identical runs — VERDICT r9 "What's wrong" #2). Per-op cold =
# min across the two sessions; spread = |session1 − session2|.
_XS_THRESHOLD_SEC = 2.0


def _warmup(spark, specs, names, sf_dir) -> None:
    """Untimed warmup. Pays one-time session costs (codegen/JIT,
    file-listing, Python worker fork) AND — the pinned cold mode,
    VERDICT r9 #1 — pre-builds every scratch fixture including the
    persisted index artifacts (LSH band index, IVF centroids/assign),
    so a timed "cold" run is plan + pin/localCheckpoint rebuild ONLY,
    never a fixture write. The fixture sweep is forced explicitly and
    its completion marker asserted, so the expensive first-eviction
    mode r9 recorded (dedup_lsh_incremental 5.6 → 18.3 s on unchanged
    code) is structurally impossible."""
    from cs_pipeline_spark.sources.scans import (
        ensure_fixtures,
        generation_root,
    )

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    ensure_fixtures(spark, sf_dir)
    marker = os.path.join(generation_root(sf_dir), "_fixtures_done")
    if not os.path.exists(marker):
        raise RuntimeError(
            "fixture sweep incomplete before timing — cold mode unpinned"
        )
    for name in names:
        if name in specs:
            specs[name].fn(spark, sf_dir).count()


def _timed_cold(spark, registry, specs, names, sf_dir):
    """The timed COLD protocol: evict the memoized plan (blocking, so
    async block drops can't bleed into the next run), rebuild, count;
    min-of-2 per op. Cold covers plan construction + pinned/
    localCheckpoint state rebuild — the driver-cold cost minus the
    (warmup-pinned) fixture artifacts. Warm min-of-2 (min-of-5 when
    sub-second) stays a secondary column."""
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    spreads: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        if name not in specs:
            continue
        n = 0
        cold_runs: list[float] = []
        for _ in range(2):
            registry.evict(name, spark, sf_dir, blocking=True)
            t0 = time.perf_counter()
            n = specs[name].fn(spark, sf_dir).count()
            cold_runs.append(time.perf_counter() - t0)
        warm_runs: list[float] = []
        for _ in range(2):
            t0 = time.perf_counter()
            n = specs[name].fn(spark, sf_dir).count()
            warm_runs.append(time.perf_counter() - t0)
        if min(warm_runs) < 1.0:
            for _ in range(3):
                t0 = time.perf_counter()
                n = specs[name].fn(spark, sf_dir).count()
                warm_runs.append(time.perf_counter() - t0)
        cold[name] = round(min(cold_runs), 4)
        warm[name] = round(min(warm_runs), 4)
        spreads[name] = round(max(cold_runs) - min(cold_runs), 4)
        rows[name] = n
        print(
            f"# {name}: {n} rows cold {cold[name]}s "
            f"(±{spreads[name]}s) warm {warm[name]}s",
            file=sys.stderr,
        )
    return cold, warm, spreads, rows


def code_state(root: str) -> dict:
    """HEAD's SHA and whether tracked files other than this script's own
    outputs differ from it; both None outside a git checkout."""
    import subprocess

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", root, *args],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.strip()

    try:
        sha = git("rev-parse", "HEAD")
        status = git(
            "status", "--porcelain", "--untracked-files=no", "--", ".",
            ":!BENCH_DETAIL.json", ":!BENCH_HISTORY.jsonl",
        )
    except (OSError, subprocess.SubprocessError):
        return {"git_sha": None, "dirty": None}
    return {"git_sha": sha, "dirty": bool(status)}


def history_record(code: dict, cpus, sf, queries, warm, spread) -> dict:
    return {
        **code,
        "cpus": cpus,
        "sf": sf,
        "queries": queries,
        "warm": warm,
        "spread": spread,
    }


def append_history(path: str, record: dict) -> None:
    with open(path, "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")


def _subset_main(subset_path: str, out_path: str) -> None:
    """Internal (cross-session re-time): fresh JVM, warm up + cold-time
    ONLY the named ops, write {"cold": {...}} to out_path."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with open(subset_path) as f:
        names = json.load(f)

    from cs_pipeline_spark import registry
    from cs_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cs_pipeline_bench_xs")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()
    _warmup(spark, specs, names, sf_dir)
    cold, _, _, _ = _timed_cold(spark, registry, specs, names, sf_dir)
    with open(out_path, "w") as f:
        json.dump({"cold": cold}, f)


def main() -> None:
    # the code this run times, taken before it writes anything
    code = code_state(HERE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from cs_pipeline_spark import registry
    from cs_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cs_pipeline_bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()

    _warmup(spark, specs, HEADLINE, sf_dir)
    cold, warm, spreads, _ = _timed_cold(
        spark, registry, specs, HEADLINE, sf_dir
    )

    # Cross-session pass: re-time every multi-second op in a FRESH
    # process (own JVM, own contention regime). Headline cold = min of
    # the two sessions; recorded spread = the cross-session delta —
    # the honest adjudication band for round-over-round comparison.
    xs_names = sorted(n for n, c in cold.items() if c >= _XS_THRESHOLD_SEC)
    xs_status = "skipped"
    if xs_names:
        import subprocess
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            sub_in = os.path.join(td, "subset.json")
            sub_out = os.path.join(td, "cold.json")
            with open(sub_in, "w") as f:
                json.dump(xs_names, f)
            try:
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--subset", sub_in, "--subset-out", sub_out],
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                    timeout=1800,
                )
                if r.returncode == 0 and os.path.exists(sub_out):
                    with open(sub_out) as f:
                        xs_cold = json.load(f)["cold"]
                    for name, c2 in xs_cold.items():
                        c1 = cold[name]
                        spreads[name] = round(abs(c1 - c2), 4)
                        cold[name] = round(min(c1, c2), 4)
                        print(
                            f"# xsession {name}: s1 {c1}s s2 {c2}s "
                            f"-> cold {cold[name]}s (±{spreads[name]}s)",
                            file=sys.stderr,
                        )
                    xs_status = "ok"
                else:
                    xs_status = f"failed rc={r.returncode}"
            except subprocess.TimeoutExpired:
                xs_status = "timeout"

    total = round(sum(cold.values()), 4)
    # Per-query detail goes to a FILE: the driver's stdout tail capture
    # is ~2000 chars, and 78-entry queries/spread dicts pushed the JSON
    # headline past it for two rounds (BENCH_r06/r07 "parsed": null).
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": cold,
        "warm": warm,
        "spread": spreads,
        "xsession": xs_status,
        "xsession_ops": xs_names,
        "sf": sf,
    }
    detail_path = os.path.join(HERE, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    append_history(
        HISTORY,
        history_record(
            code, spark.sparkContext.defaultParallelism, sf, cold, warm, spreads
        ),
    )
    # LAST stdout line: summary-only JSON, short enough for any tail
    # capture to hold whole.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(cold),
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[1] == "--subset":
        _subset_main(sys.argv[2], sys.argv[4])
    else:
        main()
