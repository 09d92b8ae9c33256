"""Flagship #3: the LLM-corpus curation funnel, end to end.

``curate_corpus_e2e`` chains the whole training-data pipeline the
§2.10 operators exist for — eval-set holdout → quality filter →
exact dedup → near-dup removal → benchmark decontamination →
train/val/test split — and reports the funnel: one (stage, n_docs)
row per stage. This is the composed "would a real corpus release run
on this engine?" query, with a full DuckDB oracle (every stage is
integer-set algebra, so the funnel is bit-exact across engines).

Stage semantics (all deterministic):

1. ``ingest``        — every document.
2. ``holdout_eval``  — the benchmark set (doc_id % 97 == 0), held out.
3. ``quality``       — non-bench docs passing the Gopher-style rules
                       (same predicate as ``text_quality_filter``).
4. ``exact_dedup``   — keep the smallest doc_id per md5(normalized
                       text) digest (same policy as ``dedup_exact``).
5. ``near_dedup``    — drop any doc with a word-3-gram Jaccard ≥ 0.15
                       partner of SMALLER doc_id in its (lang,
                       source) block (keep-first policy over
                       ``dedup_ngram_jaccard`` pairs).
6. ``decontam``      — drop docs sharing a distinct 4-token shingle
                       with any held-out doc (``text_contamination_
                       check`` semantics).
7. ``train``/``val``/``test`` — 80/10/10 multiplicative-hash split of
                       the survivors (``sample_train_split`` hash).

Scale (100 TB): stages 1–4 and 6–7 are scan + hash-agg/broadcast
shapes (see the source ops); stage 5's pair join is the blocked
verify stage — at full scale its candidate pairs come from MinHash-
LSH buckets instead of (lang, source) blocks (dedup.py), which
changes the candidate generator, not the funnel algebra. Production
would persist each stage's id-set (small: ids only) so the funnel is
one pass per stage over ids, never re-reading text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.aggregate import (
    _SPLIT_MOD,
    _SPLIT_MULT,
    _SPLIT_PRIME,
)
from cs_pipeline_spark.operators.dedup import (
    _NGRAM_THRESHOLD,
    _NORM,
    _NORM_DUCK,
    _sql_shingles,
    _tokens,
    shingles,
)
from cs_pipeline_spark.operators.text import (
    _MAX_AVG_LEN,
    _MAX_TOKENS,
    _MIN_AVG_LEN,
    _MIN_STOPWORD,
    _MIN_TOKENS,
    _STOPWORDS,
    _hits,
    _sql_hits,
)
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import load

_BENCH_MOD = 97  # keep in sync with corpus.text_contamination_check

_DUCK_TOKENS = f"string_split({_NORM_DUCK}, ' ')"

_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, source,
         {_NORM_DUCK} AS norm,
         {_DUCK_TOKENS} AS t
  FROM documents
),
bench AS (SELECT * FROM base WHERE doc_id % {_BENCH_MOD} = 0),
corp  AS (SELECT * FROM base WHERE doc_id % {_BENCH_MOD} <> 0),
q AS (
  SELECT * FROM (
    SELECT *,
           len(t) AS n_tokens,
           CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(t) AS avg_len,
           CAST({_sql_hits('t', _STOPWORDS)} AS DOUBLE) / len(t) AS stop_ratio
    FROM corp
  ) WHERE NOT (n_tokens < {_MIN_TOKENS} OR n_tokens > {_MAX_TOKENS}
           OR avg_len < {_MIN_AVG_LEN} OR avg_len > {_MAX_AVG_LEN}
           OR stop_ratio < {_MIN_STOPWORD})
),
ek AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
g3 AS (SELECT doc_id, lang, source, list_distinct({_sql_shingles('t', 3)}) AS grams FROM ek),
near_removed AS (
  SELECT DISTINCT b.doc_id FROM g3 a JOIN g3 b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
        >= {_NGRAM_THRESHOLD}
),
nk AS (SELECT * FROM ek WHERE doc_id NOT IN (SELECT doc_id FROM near_removed)),
bench_g AS (SELECT DISTINCT unnest(list_distinct({_sql_shingles('t', 4)})) AS g FROM bench),
contam AS (
  SELECT DISTINCT n.doc_id FROM (
    SELECT doc_id, unnest(list_distinct({_sql_shingles('t', 4)})) AS g FROM nk
  ) n JOIN bench_g b ON b.g = n.g
),
dk AS (SELECT * FROM nk WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
split AS (
  SELECT doc_id,
         (((doc_id % {_SPLIT_PRIME}) * {_SPLIT_MULT}) % {_SPLIT_PRIME})
         % {_SPLIT_MOD} AS bucket
  FROM dk
)
SELECT 'ingest' AS stage, COUNT(*) AS n_docs FROM base
UNION ALL SELECT 'holdout_eval', COUNT(*) FROM bench
UNION ALL SELECT 'quality', COUNT(*) FROM q
UNION ALL SELECT 'exact_dedup', COUNT(*) FROM ek
UNION ALL SELECT 'near_dedup', COUNT(*) FROM nk
UNION ALL SELECT 'decontam', COUNT(*) FROM dk
UNION ALL SELECT 'train', COUNT(*) FROM split WHERE bucket < 80
UNION ALL SELECT 'val', COUNT(*) FROM split WHERE bucket >= 80 AND bucket < 90
UNION ALL SELECT 'test', COUNT(*) FROM split WHERE bucket >= 90
"""


@register(
    "curate_corpus_e2e",
    _ORACLE,
    doc="flagship #3: full corpus-curation funnel — holdout → quality → exact dedup → near-dup → decontamination → 80/10/10 split, one (stage, n_docs) row per stage",
)
def curate_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 shape (the lake_audit_e2e rewrite, guide §2.4): one
    # annotated per-doc flags table (pinned once) + ONE conditional
    # aggregate unpivoted with stack(), replacing 3 pins + 9
    # single-row aggregate branches (~12 sequential jobs of
    # scheduling latency). The near-dup/decontam id-sets stay their
    # own subtrees, attached to the flags row by left joins (no
    # broadcast hint — they grow with the corpus; AQE broadcasts
    # while small). Hashed-gram collision contract (ADVICE r10):
    # 3/4-gram xxhash64 collisions can only OVER-flag (extra
    # near-dup/contamination hits) at a birthday rate of n²/2⁶⁵
    # distinct grams — ~10⁻⁷ of grams at 10¹³ grams (100 TB); a
    # removal pass tolerates that, pair two independent salts if
    # deletion precision ever becomes contractual.
    docs = load(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(_NORM).alias("norm"),
        _tokens(F.expr(_NORM)).alias("t"),
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0

    # quality (text_quality_filter predicate, on materialized tokens)
    n_tokens = F.size("t")
    avg_len = (
        F.length(F.replace(F.col("norm"), F.lit(" "), F.lit(""))).cast(
            "double"
        )
        / n_tokens
    )
    stop_ratio = _hits(F.col("t"), _STOPWORDS).cast("double") / n_tokens
    bad = (
        (n_tokens < _MIN_TOKENS)
        | (n_tokens > _MAX_TOKENS)
        | (avg_len < _MIN_AVG_LEN)
        | (avg_len > _MAX_AVG_LEN)
        | (stop_ratio < _MIN_STOPWORD)
    )

    # exact dedup: keep smallest doc_id per normalized-text digest,
    # among quality survivors only — ordering (is_q DESC, doc_id)
    # inside the digest partition puts quality docs first, so rn = 1
    # ∧ is_q is exactly "the smallest-doc_id quality doc per digest".
    ann = pin(
        base.select(
            "doc_id",
            "lang",
            "source",
            "t",
            is_bench.alias("is_bench"),
            ((~is_bench) & (~bad)).alias("is_q"),
            F.md5("norm").alias("dig"),
        )
        .withColumn(
            "kept_exact", F.col("is_q") & (F.row_number().over(
                Window.partitionBy("dig").orderBy(
                    F.desc("is_q"), F.asc("doc_id")
                )
            ) == 1),
        )
        .drop("dig")
    )

    # near-dup removal: blocked 3-gram Jaccard, keep-first. Grams are
    # hashed to int64 before the pairwise array_intersect (identical
    # Jaccard absent a 64-bit collision; long intersects beat string
    # intersects), and the removed-id set — the expensive quadratic
    # verify's only output — is pinned so the self-join runs once,
    # not once per downstream action.
    g3 = ann.filter("kept_exact").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(
            F.transform(shingles(F.col("t"), 3), lambda c: F.xxhash64(c))
        ).alias("grams"),
    )
    a, b = g3.alias("a"), g3.alias("b")
    inter = F.size(
        F.array_intersect(F.col("a.grams"), F.col("b.grams"))
    ).cast("double")
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    near_removed = pin(
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(inter / union >= _NGRAM_THRESHOLD)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(1).alias("nr"))
    )
    # no broadcast hint: the removed-id set grows with the corpus
    # (ADVICE r10) — AQE picks broadcast at runtime while the pinned
    # set is small and falls back to a shuffle join past the threshold
    with_nr = ann.join(near_removed, "doc_id", "left")
    kept_near = F.col("kept_exact") & F.col("nr").isNull()

    # decontamination: 4-gram overlap vs the held-out set (hashed
    # grams, same argument); the contaminated-id set is pinned for
    # the same once-per-build reason.
    bench_g = ann.filter("is_bench").select(
        F.explode(
            F.array_distinct(
                F.transform(shingles(F.col("t"), 4), lambda c: F.xxhash64(c))
            )
        ).alias("g")
    ).distinct()
    contam = pin(
        with_nr.filter(kept_near)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(shingles(F.col("t"), 4), lambda c: F.xxhash64(c))
                )
            ).alias("g"),
        )
        # bench_g broadcast is safe: the held-out benchmark suite is a
        # curated BOUNDED input (thousands of docs), not corpus-scale
        .join(F.broadcast(bench_g), "g")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).alias("ct"))
    )

    # 80/10/10 split (sample_train_split hash)
    bucket = (
        (F.col("doc_id") % F.lit(_SPLIT_PRIME)) * F.lit(_SPLIT_MULT)
    ) % F.lit(_SPLIT_PRIME) % F.lit(_SPLIT_MOD)
    kept_dk = kept_near & F.col("ct").isNull()
    cnt = lambda c, name: F.count(F.when(c, 1)).alias(name)  # noqa: E731
    row = (
        # contam also grows with the corpus — same no-hint rationale
        with_nr.join(contam, "doc_id", "left")
        .select(
            "is_bench",
            "is_q",
            "kept_exact",
            kept_near.alias("kn"),
            kept_dk.alias("kd"),
            bucket.alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("c_ing"),
            cnt(F.col("is_bench"), "c_bench"),
            cnt(F.col("is_q"), "c_q"),
            cnt(F.col("kept_exact"), "c_ek"),
            cnt(F.col("kn"), "c_nk"),
            cnt(F.col("kd"), "c_dk"),
            cnt(F.col("kd") & (F.col("bucket") < 80), "c_tr"),
            cnt(
                F.col("kd")
                & (F.col("bucket") >= 80)
                & (F.col("bucket") < 90),
                "c_va",
            ),
            cnt(F.col("kd") & (F.col("bucket") >= 90), "c_te"),
        )
    )
    return row.select(
        F.expr(
            "stack(9, 'ingest', c_ing, 'holdout_eval', c_bench, "
            "'quality', c_q, 'exact_dedup', c_ek, 'near_dedup', c_nk, "
            "'decontam', c_dk, 'train', c_tr, 'val', c_va, "
            "'test', c_te) as (stage, n_docs)"
        )
    )


_LEAK_P = 1000000007
_LEAK_MULT = 2654435761 % _LEAK_P


@register(
    "corpus_split_leakage",
    f"""
    WITH b AS (
      SELECT doc_id,
             (((doc_id % {_LEAK_P}) * {_LEAK_MULT}) % {_LEAK_P}) % 100
               AS bucket,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    sh AS (
      SELECT doc_id, bucket,
             unnest(list_transform(
               range(1, greatest(len(string_split(norm, ' ')) - 7, 0) + 1),
               i -> array_to_string(string_split(norm, ' ')[i:i+7], ' ')))
               AS shingle
      FROM b
    ),
    train_sh AS (
      SELECT DISTINCT shingle FROM sh WHERE bucket < 80
    ),
    test_docs AS (
      SELECT doc_id, COUNT(DISTINCT shingle) AS n_shingles
      FROM sh WHERE bucket >= 80 GROUP BY doc_id
    ),
    leaked AS (
      SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_leaked
      FROM sh s JOIN train_sh t ON t.shingle = s.shingle
      WHERE s.bucket >= 80 GROUP BY s.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_docs,
           CAST(SUM(CASE WHEN l.n_leaked IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaked_docs,
           CAST(SUM(COALESCE(l.n_leaked, 0)) AS BIGINT)
             AS n_leaked_shingles,
           CAST(SUM(CASE WHEN l.n_leaked IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS leaked_doc_ppm
    FROM test_docs td LEFT JOIN leaked l ON l.doc_id = td.doc_id
    """,
    doc="train/test split leakage audit: test documents sharing any "
    "8-gram shingle with the training split (hash-split aware) — the "
    "benchmark-integrity check run BEFORE evaluation numbers are "
    "trusted; near-dups straddling the split inflate scores",
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split leakage — the silent eval-inflation bug: hash splits
    separate DOCUMENTS, but near-duplicate documents straddle the
    boundary and leak test content into training. The audit shingles
    both splits (word 8-grams, the ``text_contamination_check``
    geometry), distinct-collapses the train side, and counts test
    docs with ANY shingle hit plus the leaked-shingle mass. A nonzero
    leaked_doc_ppm means dedup must run BEFORE splitting (the
    ``curate_corpus_e2e`` ordering), not after.

    Scale: shingles shuffle as hashes of bounded n-grams (the
    dedup_minhash discipline); the train side is DISTINCT-collapsed
    before the join (≪ raw shingle stream), and the join key is
    uniform. Never all-pairs.
    """
    docs = load(spark, "documents", sf_dir)
    bucket = (
        (F.col("doc_id") % F.lit(_LEAK_P)) * F.lit(_LEAK_MULT)
    ) % F.lit(_LEAK_P) % F.lit(100)
    b = docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.expr(_NORM).alias("norm"),
    )
    sh = b.select(
        "doc_id",
        "bucket",
        F.explode(shingles(_tokens(F.col("norm")), 8)).alias("shingle"),
    )
    train_sh = (
        sh.filter(F.col("bucket") < 80).select("shingle").distinct()
    )
    test_sh = sh.filter(F.col("bucket") >= 80)
    test_docs = test_sh.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shingles")
    )
    leaked = (
        test_sh.join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_leaked"))
    )
    j = test_docs.join(F.broadcast(leaked), "doc_id", "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_docs"),
        F.sum(F.when(F.col("n_leaked").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_leaked_docs"),
        F.sum(F.coalesce("n_leaked", F.lit(0)))
        .cast("long")
        .alias("n_leaked_shingles"),
        F.expr(
            "sum(CASE WHEN n_leaked IS NOT NULL THEN 1 ELSE 0 END) "
            "* 1000000 div count(1)"
        )
        .cast("long")
        .alias("leaked_doc_ppm"),
    )
