"""Corpus-level text statistics (SURVEY §2.10 extension, north star).

Where ``operators/text.py`` is per-row (zero-shuffle) curation, these
operators aggregate ACROSS the corpus — the n-gram count tables and
document-frequency statistics every large-scale training-data
pipeline maintains (vocabulary building, contamination checks,
keyword extraction).

Scale design (100 TB):

- ``text_ngram_topk``: explode → hash-aggregate. The shuffle carries
  (ngram, partial count) pairs AFTER map-side combine, so the heavy
  hitters (stop-bigrams) that dominate raw token volume are already
  collapsed per task before the wire; the final top-k is a single
  ``TakeOrderedAndProject`` (no global sort materialization).
- ``text_keywords_rare``: tf table (doc, term) → df table (term) →
  join-back on term → per-doc ranking window. The df join shuffles on
  term — the same key the df aggregation just shuffled on, so the
  exchange is reused. Ranking is integer-only (df asc, tf desc, term
  asc): no float score, hence no cross-engine ULP risk and no
  quantization needed.

Both are registered with exact DuckDB oracles (integer counts only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.dedup import (
    _NORM,
    _NORM_DUCK,
    _sql_shingles,
    _tokens,
    shingles,
)
from cs_pipeline_spark.operators.helpers import dec_to_double, dround, one_part
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import load

_DUCK_TOKENS = f"string_split({_NORM_DUCK}, ' ')"

_TOPK = 20


@register(
    "text_ngram_topk",
    f"""
    WITH toks AS (SELECT {_DUCK_TOKENS} AS t FROM documents),
    grams AS (SELECT unnest({_sql_shingles('t', 2)}) AS ngram FROM toks)
    SELECT ngram, COUNT(*) AS n
    FROM grams GROUP BY ngram
    ORDER BY n DESC, ngram
    LIMIT {_TOPK}
    """,
    doc=f"corpus top-{_TOPK} word bigrams: explode → map-side-combined count → TakeOrdered (vocabulary/contamination-check shape)",
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table, top-k by (count desc, ngram asc)
    — a total order, so the LIMIT selects a unique row set and the
    order-insensitive hash check is well-defined."""
    docs = load(spark, "documents", sf_dir)
    # tokens materialized first — inlining the split into the shingle
    # lambda re-evaluates it per element (no CSE in HOF lambdas)
    toked = docs.select(_tokens(F.expr(_NORM)).alias("toks"))
    grams = toked.select(
        F.explode(shingles(F.col("toks"), 2)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(_TOPK)
    )


_KEYWORDS_PER_DOC = 3


@register(
    "text_keywords_rare",
    f"""
    WITH tf AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), tfc AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
    ), dfc AS (
      SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
    )
    SELECT doc_id, term, tf, df, rn FROM (
      SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
             ROW_NUMBER() OVER (
               PARTITION BY tfc.doc_id
               ORDER BY dfc.df, tfc.tf DESC, tfc.term
             ) AS rn
      FROM tfc JOIN dfc ON dfc.term = tfc.term
    ) WHERE rn <= {_KEYWORDS_PER_DOC}
    """,
    doc=f"per-doc top-{_KEYWORDS_PER_DOC} rare-term keywords: tf × corpus document-frequency join-back, integer-only TF-IDF-style ranking (df asc, tf desc)",
)
def text_keywords_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-shaped keyword extraction with an integer-only ranking
    (df ascending ≈ idf descending; tf descending; term as tie-break)
    — monotone-equivalent to tf·idf ranking for the rare-term regime
    and bit-exact across engines, unlike a float log score.

    df counts documents-containing-term (distinct via the tf
    pre-aggregation), the standard DF definition.
    """
    docs = load(spark, "documents", sf_dir)
    tf = (
        docs.select(
            "doc_id", F.explode(_tokens(F.expr(_NORM))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("tf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KEYWORDS_PER_DOC)
        .select("doc_id", "term", "tf", "df", "rn")
    )


# ---------- benchmark decontamination ----------

_CONTAM_N = 4  # shingle width (tokens)
_BENCH_MOD = 97  # doc_id % mod == 0 → benchmark ("eval") set


@register(
    "text_contamination_check",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    g AS (SELECT doc_id, unnest(list_distinct({_sql_shingles('t', _CONTAM_N)})) AS g
          FROM toks),
    bench AS (SELECT doc_id AS bench_id, g FROM g WHERE doc_id % {_BENCH_MOD} = 0),
    corp AS (SELECT doc_id, g FROM g WHERE doc_id % {_BENCH_MOD} <> 0)
    SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_shared,
           COUNT(DISTINCT b.bench_id) AS n_bench_docs
    FROM corp c JOIN bench b ON b.g = c.g
    GROUP BY c.doc_id
    """,
    doc=f"benchmark decontamination: training docs sharing ≥1 distinct {_CONTAM_N}-token shingle with the eval set (doc_id%{_BENCH_MOD}=0) — the overlap check run before every training corpus release",
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan. The benchmark's shingle set is
    tiny next to the corpus (eval sets are thousands of docs, the
    corpus billions) → it BROADCASTS; the corpus streams through the
    join unshuffled, and only matching (doc, shingle) hits reach the
    final per-doc aggregation. At 100 TB: corpus scan → broadcast
    hash join → O(hits) shuffle. Shingles are compared as exact
    strings here; hash them (xxhash64) to shrink the broadcast when
    the eval set is large."""
    docs = load(spark, "documents", sf_dir)
    # tokens materialized first (see text_ngram_topk)
    toked = docs.select("doc_id", _tokens(F.expr(_NORM)).alias("toks"))
    grams = F.array_distinct(shingles(F.col("toks"), _CONTAM_N))
    with_g = toked.select("doc_id", F.explode(grams).alias("g"))
    bench = (
        with_g.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "g")
    )
    corp = with_g.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        corp.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# ---------- out-of-vocabulary ratio ----------

_VOCAB_K = 20  # vocabulary = top-K corpus terms by document frequency
# (the synthetic corpus draws from ~31 distinct words, so K=20 leaves a
# real OOV tail; production would use a 10^5-10^6-term vocabulary)


@register(
    "text_oov_ratio",
    f"""
    WITH tf AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), dfc AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), vocab AS (
      SELECT term FROM dfc ORDER BY df DESC, term LIMIT {_VOCAB_K}
    )
    SELECT tf.doc_id, COUNT(*) AS n_tokens,
           COUNT(*) - COUNT(v.term) AS n_oov,
           CAST(COUNT(*) - COUNT(v.term) AS DOUBLE) / COUNT(*) AS oov_ratio
    FROM tf LEFT JOIN vocab v ON v.term = tf.term
    GROUP BY tf.doc_id
    """,
    doc=f"out-of-vocabulary rate per doc against the corpus top-{_VOCAB_K} DF vocabulary — the integer-deterministic perplexity stand-in for quality filtering",
)
def text_oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-free quality proxy: documents whose tokens
    rarely appear in the corpus vocabulary (gibberish, boilerplate,
    wrong-language) score high. Two corpus passes: (1) build the
    top-K document-frequency vocabulary — total order (df desc, term
    asc) so the vocabulary set is identical in both engines; (2)
    broadcast it and count per-doc misses. At 100 TB the vocabulary
    (fixed K) always broadcasts, so pass 2 adds no shuffle beyond the
    per-doc aggregation; ratios are exact-integer divisions."""
    docs = load(spark, "documents", sf_dir)
    tf = docs.select(
        "doc_id", F.explode(_tokens(F.expr(_NORM))).alias("term")
    )
    dfc = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    vocab = (
        dfc.orderBy(F.col("df").desc(), F.col("term"))
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        tf.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("in_vocab")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias(
                "oov_ratio"
            ),
        )
    )


# ---------- float TF-IDF / BM25 relevance scoring ----------
# text_keywords_rare above ranks integer-only (cross-engine-exact by
# construction); these two compute the REAL float scores a retrieval /
# curation pipeline wants, made hash-stable by rounding the final
# score to 6 dp on both engines (ln/division ULP drift ≪ 1e-6 grid).

_TFIDF_PER_DOC = 3


@register(
    "text_tfidf_topk",
    f"""
    WITH tf AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), tfc AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
    ), dfc AS (
      SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tfidf, rn FROM (
      SELECT tfc.doc_id, tfc.term,
             ROUND(tfc.tf * (LN((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 6)
               AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tfc.doc_id
               ORDER BY ROUND(tfc.tf * (LN((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 6) DESC,
                        tfc.term
             ) AS rn
      FROM tfc JOIN dfc ON dfc.term = tfc.term CROSS JOIN n
    ) WHERE rn <= {_TFIDF_PER_DOC}
    """,
    doc=f"per-doc top-{_TFIDF_PER_DOC} terms by smoothed float tf·idf "
    "(sklearn-style idf = ln((N+1)/(df+1))+1), 6-dp-rounded score",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True float TF-IDF keyword extraction.

    idf uses the smoothed sklearn form ln((N+1)/(df+1))+1 (never
    negative, defined for df=N). Ranking happens on the ROUNDED score
    (plus term tie-break) so both engines rank the same total order.

    Scale: tf is a (doc, term) hash-agg; df reuses tf's term shuffle;
    N is a scalar broadcast. Same two-shuffle shape as
    ``text_keywords_rare`` — the float math adds no exchange.
    """
    docs = load(spark, "documents", sf_dir)
    tf = (
        docs.select("doc_id", F.explode(_tokens(F.expr(_NORM))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_PER_DOC)
        .select("doc_id", "term", "tfidf", "rn")
    )


_BM25_TERMS = ("join", "vector", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@register(
    "text_bm25_rank",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs,
             (CAST(SUM(dl) AS DOUBLE) / COUNT(*)) AS avgdl
      FROM dl
    ), tfc AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN {str(tuple(_BM25_TERMS))} GROUP BY doc_id, term
    ), dfc AS (
      SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
    )
    SELECT doc_id, score, rn FROM (
      SELECT s.doc_id, s.score,
             ROW_NUMBER() OVER (ORDER BY s.score DESC, s.doc_id) AS rn
      FROM (
        SELECT tfc.doc_id,
               ROUND(SUM(
                 LN(1.0 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
                 * (tfc.tf * ({_BM25_K1} + 1.0))
                 / (tfc.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * dl.dl / stats.avgdl))
               ), 6) AS score
        FROM tfc
        JOIN dfc ON dfc.term = tfc.term
        JOIN dl ON dl.doc_id = tfc.doc_id
        CROSS JOIN stats
        GROUP BY tfc.doc_id
      ) s
    ) WHERE rn <= {_BM25_TOPK}
    """,
    doc=f"BM25 retrieval scoring for query {_BM25_TERMS}, top-{_BM25_TOPK} "
    "docs (k1=1.2, b=0.75, Robertson idf), 6-dp-rounded",
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 against a fixed query term set.

    Per matching (doc, term): idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
    idf = ln(1 + (N−df+0.5)/(df+0.5)); summed per doc, rounded to 6 dp,
    top-k by (score desc, doc_id). The per-doc sum runs over ≤3 terms
    so 6-dp rounding absorbs any ULP-order drift.

    Scale: the tf table is filtered to the query terms BEFORE its
    aggregation — the corpus-wide explode never shuffles, only the
    tiny matching subset does. dl/avgdl reuse the same token frame;
    stats is a scalar broadcast. At 100 TB this is the standard
    inverted-index-free scoring pass: one scan, two small shuffles.
    """
    docs = load(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.explode(_tokens(F.expr(_NORM))).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tfc = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = (
        idf
        * (F.col("tf") * (k1 + F.lit(1.0)))
        / (
            F.col("tf")
            + k1
            * (
                F.lit(1.0)
                - b
                + b * F.col("dl") / F.col("avgdl")
            )
        )
    )
    scored = (
        tfc.join(F.broadcast(dfc), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    # limit FIRST (TakeOrderedAndProject — per-partition top-k, no
    # global sort), then rank the k survivors; the unpartitioned
    # row_number window only ever sees _BM25_TOPK rows.
    topk = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(
        _BM25_TOPK
    )
    w = Window.partitionBy(one_part("doc_id")).orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return topk.withColumn("rn", F.row_number().over(w)).select(
        "doc_id", "score", "rn"
    )


# ---------- domain-mixing weights ----------

# re-balance half the corpus's token mass uniformly across domains
_MIX_BUDGET_DIV = 2


@register(
    "corpus_mix_weights",
    f"""
    WITH tok AS (
      SELECT lang, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    dom AS (
      SELECT lang, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
      FROM tok GROUP BY lang
    ),
    tot AS (
      SELECT SUM(n_tokens) // ({_MIX_BUDGET_DIV} * COUNT(*)) AS target
      FROM dom
    )
    SELECT d.lang,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(d.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.target AS BIGINT) AS target_tokens,
           FLOOR(LEAST(1.0, CAST(t.target AS DOUBLE) / d.n_tokens)
                 * 1000000.0 + 0.5) / 1000000.0 AS sample_rate,
           CAST((t.target + d.n_tokens - 1) // d.n_tokens AS BIGINT)
             AS epochs_needed
    FROM dom d, tot t
    """,
    doc="domain-mixing weights: per-lang sampling rate toward a "
    "uniform token target (half the corpus mass split evenly) — "
    "under-represented domains get epochs_needed repeat factors, "
    "over-represented ones a downsampling rate; integer-exact counts",
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture planner in front of training-data sampling: given
    per-domain token masses, emit the rate at which each domain must
    be down-sampled (rate < 1) or repeated (epochs_needed > 1) to hit
    a uniform per-domain token target. All counts are exact integers;
    the only float is the final rate division (correctly rounded
    identically in both engines, 6 dp).

    Scale: one map-side-combined groupBy(lang) over per-row token
    counts (expression-side split, no Python); the 1-row global
    target broadcasts back. Domain count is small by construction —
    the output is dashboard-sized whatever the corpus size.
    """
    docs = load(spark, "documents", sf_dir)
    tok = docs.select(
        "lang", F.size(_tokens(F.expr(_NORM))).cast("long").alias("n_tok")
    )
    dom = tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = dom.agg(
        F.expr(
            f"sum(n_tokens) div ({_MIX_BUDGET_DIV} * count(*))"
        ).alias("target")
    )
    return dom.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("target").cast("long").alias("target_tokens"),
        dround(
            F.least(
                F.lit(1.0),
                F.col("target").cast("double") / F.col("n_tokens"),
            ),
            6,
        ).alias("sample_rate"),
        F.expr(
            "(target + n_tokens - 1) div n_tokens"
        ).cast("long").alias("epochs_needed"),
    )


# ---------- token-budget greedy selection ----------

# keep roughly a third of each domain's token mass
_SEL_BUDGET_DIV = 3


@register(
    "corpus_budget_select",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok,
             CAST(len(list_distinct({_DUCK_TOKENS})) AS BIGINT) AS n_uniq
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, n_tok,
             CAST(FLOOR(1000000.0 * n_uniq / n_tok) AS BIGINT) AS quality_q
      FROM tok WHERE n_tok > 0
    ),
    budget AS (
      SELECT lang, SUM(n_tok) // {_SEL_BUDGET_DIV} AS b
      FROM scored GROUP BY lang
    ),
    ranked AS (
      SELECT s.doc_id, s.lang, s.n_tok, s.quality_q, b.b,
             ROW_NUMBER() OVER (
               PARTITION BY s.lang ORDER BY s.quality_q DESC, s.doc_id
             ) AS rnk,
             SUM(s.n_tok) OVER (
               PARTITION BY s.lang ORDER BY s.quality_q DESC, s.doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tok
      FROM scored s JOIN budget b ON b.lang = s.lang
    )
    SELECT doc_id, lang, n_tok, quality_q, CAST(rnk AS BIGINT) AS rnk
    FROM ranked
    WHERE cum_tok - n_tok < b
    """,
    doc="token-budget greedy selection: per-lang quality ranking "
    "(distinct-token ratio, quantized) + window cumsum, keep docs "
    "until a third of the domain's token mass is spent — the "
    "quality-first corpus subsetting step",
)
def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first selection under a per-domain token budget:
    rank docs by lexical-diversity quality (distinct/total tokens,
    quantized to an exact integer so the ranking key is bit-identical
    across engines), take docs in rank order until the running token
    sum crosses the budget (the boundary doc that crosses it is
    kept — ``cum − n < b``).

    Scale: per-row token stats are expression-side; the budget table
    is domain-cardinality (broadcast); ONE window shuffle on lang
    partitions does rank + cumsum together. At 100 TB a single-lang
    partition is the bottleneck — the standard fix is sub-bucketing
    the window key by quality-band and pre-aggregating band masses,
    same pattern as the salted aggregations in operators/scale.py.
    """
    docs = load(spark, "documents", sf_dir)
    toks = _tokens(F.expr(_NORM))
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    )
    scored = tok.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor(
            F.lit(1000000.0) * F.col("n_uniq") / F.col("n_tok")
        ).cast("long").alias("quality_q"),
    )
    budget = scored.groupBy("lang").agg(
        F.expr(f"sum(n_tok) div {_SEL_BUDGET_DIV}").alias("b")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_q").desc(), F.col("doc_id")
    )
    ranked = (
        scored.join(F.broadcast(budget), "lang")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cum_tok", F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    return ranked.filter(
        F.col("cum_tok") - F.col("n_tok") < F.col("b")
    ).select(
        "doc_id", "lang", "n_tok", "quality_q",
        F.col("rnk").cast("long").alias("rnk"),
    )


# ---------- mixture-plan execution (deterministic resample) ----------

_MIX_PRIME = 1000000007
_MIX_MULT = 2654435761 % _MIX_PRIME
_MIX_RES = 1000000  # rate resolution (ppm)


@register(
    "corpus_sample_mix",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok,
             (((doc_id % {_MIX_PRIME}) * {_MIX_MULT}) % {_MIX_PRIME})
               % {_MIX_RES} AS bucket
      FROM documents
    ),
    dom AS (
      SELECT lang, SUM(n_tok) AS n_tokens FROM tok GROUP BY lang
    ),
    tot AS (
      SELECT SUM(n_tokens) // (2 * COUNT(*)) AS target FROM dom
    ),
    quota AS (
      SELECT d.lang, d.n_tokens, t.target,
             LEAST({_MIX_RES},
                   (t.target * {_MIX_RES}) // d.n_tokens) AS keep_ppm
      FROM dom d, tot t
    )
    SELECT q.lang,
           CAST(q.target AS BIGINT) AS target_tokens,
           CAST(q.keep_ppm AS BIGINT) AS keep_ppm,
           CAST(COUNT(CASE WHEN tok.bucket < q.keep_ppm
                           THEN 1 END) AS BIGINT) AS kept_docs,
           CAST(COALESCE(SUM(CASE WHEN tok.bucket < q.keep_ppm
                                  THEN tok.n_tok END), 0) AS BIGINT)
             AS kept_tokens
    FROM tok JOIN quota q ON q.lang = tok.lang
    GROUP BY q.lang, q.target, q.keep_ppm
    """,
    doc="mixture-plan EXECUTION: per-lang keep quota in ppm (exact "
    "integer division of the uniform token target), docs kept iff "
    "multiplicative-hash bucket < quota — reproducible across "
    "runs/partitionings/engines, no rand(); reports achieved vs "
    "target token mass",
)
def corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executes what ``corpus_mix_weights`` plans: every doc gets a
    deterministic ppm bucket from the multiplicative hash of its id
    (the ``sample_train_split`` convention — a pure function of the
    key, so a retry or re-partition can never change the sample), and
    survives iff bucket < the domain's keep quota. Integer arithmetic
    end-to-end: the achieved token mass is exactly reproducible.

    Scale: token counts are expression-side; the quota table is
    domain-cardinality and broadcasts; the keep decision is a per-row
    comparison fused into the scan — the sampled corpus never
    shuffles at all until whatever consumes it does.
    """
    docs = load(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        "lang",
        F.size(_tokens(F.expr(_NORM))).cast("long").alias("n_tok"),
        (
            ((F.col("doc_id") % F.lit(_MIX_PRIME)) * F.lit(_MIX_MULT))
            % F.lit(_MIX_PRIME)
            % F.lit(_MIX_RES)
        ).alias("bucket"),
    )
    dom = tok.groupBy("lang").agg(F.sum("n_tok").alias("n_tokens"))
    tot = dom.agg(
        F.expr("sum(n_tokens) div (2 * count(*))").alias("target")
    )
    quota = dom.join(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        "target",
        F.least(
            F.lit(_MIX_RES),
            F.expr(f"(target * {_MIX_RES}) div n_tokens"),
        ).alias("keep_ppm"),
    )
    kept = F.when(F.col("bucket") < F.col("keep_ppm"), F.col("n_tok"))
    return (
        tok.join(F.broadcast(quota), "lang")
        .groupBy("lang", "target", "keep_ppm")
        .agg(
            F.count(kept).cast("long").alias("kept_docs"),
            F.coalesce(F.sum(kept), F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
        )
        .select(
            "lang",
            F.col("target").cast("long").alias("target_tokens"),
            F.col("keep_ppm").cast("long").alias("keep_ppm"),
            "kept_docs",
            "kept_tokens",
        )
    )


@register(
    "corpus_datacard",
    """
    WITH d AS (
      SELECT doc_id, lang, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_toks,
             CAST(len(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS DOUBLE)
               / len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS distinct_ratio
      FROM documents
    ), dup AS (
      SELECT digest, COUNT(*) AS n FROM d GROUP BY digest
    ), g AS (
      SELECT d.lang, d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(d.n_toks) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN dup.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             (CAST(CAST(SUM(CAST(FLOOR(d.distinct_ratio * 1000000.0 + 0.5)
                AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0)
               / COUNT(d.distinct_ratio) AS avg_distinct_ratio
      FROM d JOIN dup ON dup.digest = d.digest
      GROUP BY d.lang, d.source
    )
    SELECT lang, source, n_docs, n_tokens, n_dup_docs,
           avg_distinct_ratio,
           CAST((n_tokens * 1000000) // SUM(n_tokens) OVER () AS BIGINT)
             AS token_share_ppm
    FROM g
    """,
    doc="corpus data card: per (lang, source) shard — docs, token "
    "mass, exact-duplicate involvement, mean distinct-token ratio, "
    "and integer-exact ppm share of total tokens",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-shard summary a dataset release publishes (data card):
    how big each (lang, source) slice is, what share of the token
    budget it carries, how duplicated it is, and a lexical-diversity
    signal (mean distinct-token ratio — low values flag boilerplate).

    Composition of the engine's own primitives: exact-dup involvement
    reuses the ``dedup_exact`` digest (16-byte md5 of normalized
    text), token counts the ``text_token_count`` whitespace form, and
    the mean ratio rides the quantized ``davg`` path.

    Scale: one shuffle on digest (map-side-combined count), one on
    (lang, source); the final ppm share is a window over |shards|
    rows — a metadata-scale spine. Integer ppm via floor division is
    reproducible across engines for the non-negative operands here.
    """
    from pyspark.sql.window import Window as _W

    from cs_pipeline_spark.operators.dedup import _NORM
    from cs_pipeline_spark.operators.helpers import davg

    docs = load(spark, "documents", sf_dir)
    toks = F.split(F.expr(_NORM), " ")
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.expr(_NORM)).alias("digest"),
        F.size(toks).alias("n_toks"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("distinct_ratio"),
    )
    dup = d.groupBy("digest").agg(F.count(F.lit(1)).alias("n"))
    g = (
        d.join(dup, "digest")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            davg("distinct_ratio").alias("avg_distinct_ratio"),
        )
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_dup_docs",
        "avg_distinct_ratio",
        F.expr("n_tokens * 1000000").alias("_scaled"),
    ).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_dup_docs",
        "avg_distinct_ratio",
        F.expr(
            "_scaled div sum(n_tokens) over (partition by"
            " coalesce(cast(n_tokens as bigint), 0) % 1)"
        )
        .cast("long")
        .alias("token_share_ppm"),
    ).drop("_scaled")


@register(
    "corpus_length_bias",
    """
    WITH d AS (
      SELECT lang,
             CAST(len(string_split(trim(regexp_replace(lower(text),
               '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_toks,
             CAST(FLOOR((CAST(len(list_distinct(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
               AS DOUBLE)
               / len(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' '))) * 1000000.0 + 0.5) AS BIGINT)
               AS dr_q
      FROM documents
    ), m AS (
      SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(n_toks AS HUGEINT)) AS sx,
             SUM(CAST(dr_q AS HUGEINT)) AS sy,
             SUM(CAST(n_toks AS HUGEINT) * CAST(dr_q AS HUGEINT)) AS sxy,
             SUM(CAST(n_toks AS HUGEINT) * CAST(n_toks AS HUGEINT)) AS sxx,
             SUM(CAST(dr_q AS HUGEINT) * CAST(dr_q AS HUGEINT)) AS syy
      FROM d GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           (FLOOR((CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
              / SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
              * 1000000.0 + 0.5) / 1000000.0) AS len_diversity_corr
    FROM m
    WHERE CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) > 0
      AND CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) > 0
    """,
    doc="curation-bias audit: per-language Pearson correlation between "
    "doc length and distinct-token ratio (exact integer moments) — "
    "quantifies the length artifact every diversity-based quality "
    "filter must correct for",
)
def corpus_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filters that threshold lexical diversity silently
    select for SHORT documents: the distinct-token ratio falls with
    length for purely statistical reasons (more draws from a finite
    vocabulary repeat more). This op measures that artifact — a
    strongly negative correlation says the diversity score needs a
    length adjustment (per-length-bucket thresholds or an expected-
    ratio baseline) before it can gate the corpus fairly.

    Pearson via the cancellation-free integer-moment path
    (``agg_corr`` pattern): token counts are exact integers, the
    ratio is floor-quantized to the 1e-6 grid before any sum, and the
    single float division is of two exactly-equal numerators.

    Scale: pure per-row expressions into one map-side-combined moment
    aggregate per language — no shuffle carries text.
    """
    docs = load(spark, "documents", sf_dir)
    from cs_pipeline_spark.operators.dedup import _NORM

    toks = F.split(F.expr(_NORM), " ")
    d = docs.select(
        "lang",
        F.size(toks).cast("decimal(38,0)").alias("n_toks"),
        F.floor(
            (F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
            * 1000000.0
            + F.lit(0.5)
        )
        .cast("decimal(38,0)")
        .alias("dr_q"),
    )
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("n_toks").alias("sx"),
        F.sum("dr_q").alias("sy"),
        F.sum(F.col("n_toks") * F.col("dr_q")).alias("sxy"),
        F.sum(F.col("n_toks") * F.col("n_toks")).alias("sxx"),
        F.sum(F.col("dr_q") * F.col("dr_q")).alias("syy"),
    )
    num = dec_to_double(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    vx = dec_to_double(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = dec_to_double(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    return m.filter((vx > 0) & (vy > 0)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        (
            F.floor((num / F.sqrt(vx * vy)) * 1000000.0 + F.lit(0.5))
            / 1000000.0
        ).alias("len_diversity_corr"),
    )


@register(
    "corpus_temperature_mix",
    f"""
    WITH tok AS (
      SELECT lang, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    dom AS (
      SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM tok GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM dom),
    w AS (
      SELECT d.lang, d.n_tokens,
             CAST(d.n_tokens AS BIGINT) * 1000000 // t.t AS raw_share_ppm,
             CAST(FLOOR(exp(0.7 * ln(CAST(d.n_tokens AS DOUBLE) / t.t))
                  * 1000000000.0 + 0.5) AS BIGINT) AS wq
      FROM dom d CROSS JOIN tot t
    ),
    ws AS (SELECT CAST(SUM(wq) AS BIGINT) AS sw FROM w)
    SELECT w.lang, w.n_tokens, w.raw_share_ppm,
           CAST(w.wq * 1000000 // ws.sw AS BIGINT) AS temp_share_ppm
    FROM w CROSS JOIN ws
    """,
    doc="temperature-scaled sampling mixture (α=0.7, the multilingual-"
    "LM exponent): per-lang share ∝ p^α — boosts low-resource "
    "domains without flattening to uniform; each p^α quantized at "
    "1e-9 before the integer-ppm normalization",
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exponentiated-share sampler from multilingual LM training:
    raw corpus shares p_i are reweighted to p_i^α (α = 0.7) and
    renormalized, which up-samples low-resource languages smoothly —
    between proportional (α=1) and uniform (α=0).
    ``corpus_mix_weights`` is the uniform-target planner; this is the
    temperature family every mixture ablation sweeps.

    Determinism: the single transcendental p^α = exp(α·ln p) is
    floor-quantized at 1e-9 per domain BEFORE the normalizing sum, so
    shares are integer-ppm ratios of exact integers.

    Scale: one map-side-combined groupBy(lang) + two 1-row broadcast
    totals — dashboard-sized output regardless of corpus size.
    """
    docs = load(spark, "documents", sf_dir)
    tok = docs.select(
        "lang", F.size(_tokens(F.expr(_NORM))).cast("long").alias("n_tok")
    )
    dom = tok.groupBy("lang").agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    tot = dom.agg(F.sum("n_tokens").cast("long").alias("t"))
    w = dom.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.expr("n_tokens * 1000000 div t").cast("long").alias("raw_share_ppm"),
        F.floor(
            F.exp(
                F.lit(0.7)
                * F.log(F.col("n_tokens").cast("double") / F.col("t"))
            )
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("wq"),
    )
    ws = w.agg(F.sum("wq").cast("long").alias("sw"))
    return w.crossJoin(F.broadcast(ws)).select(
        "lang",
        "n_tokens",
        "raw_share_ppm",
        F.expr("wq * 1000000 div sw").cast("long").alias("temp_share_ppm"),
    )


# ---------- corpus_js_divergence ----------


@register(
    "corpus_js_divergence",
    """
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
      FROM documents GROUP BY 1, 2
    ), s AS (
      SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s FROM c GROUP BY 1
    ), l AS (
      SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l FROM c GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_sl) AS BIGINT) AS n FROM c
    ), grid AS (
      SELECT s.source, s.n_s, l.lang, l.n_l,
             COALESCE(c.n_sl, 0) AS n_sl, tot.n
      FROM s CROSS JOIN l CROSS JOIN tot
      LEFT JOIN c ON c.source = s.source AND c.lang = l.lang
    ), terms AS (
      SELECT source, n_s,
             CAST(n_sl AS DOUBLE) / n_s AS p,
             CAST(n_l AS DOUBLE) / n AS q,
             (CAST(n_sl AS DOUBLE) / n_s + CAST(n_l AS DOUBLE) / n) / 2.0
               AS m
      FROM grid
    ), tq AS (
      SELECT source, n_s,
             CASE WHEN p > 0
                  THEN CAST(FLOOR(p * log2(p / m) * 1000000000.0 + 0.5)
                       AS BIGINT) ELSE 0 END AS t_p,
             CASE WHEN q > 0
                  THEN CAST(FLOOR(q * log2(q / m) * 1000000000.0 + 0.5)
                       AS BIGINT) ELSE 0 END AS t_q
      FROM terms
    )
    SELECT source, MAX(n_s) AS n_docs,
           CAST(SUM(t_p) + SUM(t_q) AS DOUBLE) / 2.0 / 1000000000.0
             AS js_bits
    FROM tq GROUP BY source
    """,
    doc="Jensen-Shannon divergence (bits) between each source's "
    "language distribution and the corpus-wide mix: per-(source,lang) "
    "p·log2(p/m) and q·log2(q/m) terms each quantized 1e-9 BEFORE the "
    "sum (entropy/chi2 convention) — the symmetric, bounded [0,1] "
    "domain-shift score a corpus mixer reads before reweighting",
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How atypical is each source's language mix? JS divergence —
    the symmetric, always-finite cousin of KL (defined even when a
    source is missing a language entirely, where KL blows up) and the
    metric behind corpus-similarity dedup in mixture design. P is the
    source's language distribution, Q the global one, M their
    midpoint; JS = (KL(P||M)+KL(Q||M))/2, in bits, bounded by 1.

    Complements ``dq_value_drift_psi`` (PSI needs both bins nonzero)
    and ``agg_entropy`` (within-source diversity): JS is BETWEEN
    distributions and robust to zeros. All probabilities are ratios
    of exact integer counts (identical doubles both engines); each
    transcendental term is floor-quantized at 1e-9 before any
    cross-row sum, so the integer sums are order-independent.

    Scale: facts collapse to the (source, lang) contingency table in
    one map-side-combined pass; everything after is |sources|×|langs|
    rows — constant-size, broadcast-friendly. The same shape serves
    train-vs-val or snapshot-vs-snapshot drift by swapping the
    grouping column.
    """
    docs = load(spark, "documents", sf_dir)
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_sl"))
    s = c.groupBy("source").agg(F.sum("n_sl").alias("n_s"))
    l = c.groupBy("lang").agg(F.sum("n_sl").alias("n_l"))
    tot = c.agg(F.sum("n_sl").alias("n"))
    grid = (
        s.crossJoin(F.broadcast(l))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(c), ["source", "lang"], "left")
        .select(
            "source",
            "n_s",
            F.coalesce(F.col("n_sl"), F.lit(0)).alias("n_sl"),
            "n_l",
            "n",
        )
    )
    p = F.col("n_sl").cast("double") / F.col("n_s")
    q = F.col("n_l").cast("double") / F.col("n")
    m = (p + q) / F.lit(2.0)
    t = lambda x: F.when(  # noqa: E731
        x > 0,
        F.floor(x * F.log2(x / m) * F.lit(1e9) + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0))
    tq = grid.select(
        "source", "n_s", t(p).alias("t_p"), t(q).alias("t_q")
    )
    return tq.groupBy("source").agg(
        F.max("n_s").cast("long").alias("n_docs"),
        (
            (F.sum("t_p") + F.sum("t_q")).cast("double")
            / F.lit(2.0)
            / F.lit(1e9)
        ).alias("js_bits"),
    )


# ---------- competence-based curriculum schedule ----------

_CURR_EPOCHS = 5


@register(
    "corpus_curriculum_schedule",
    f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER () AS n
      FROM documents
    ), d AS (
      SELECT doc_id, n_chars,
             (rk - 1) * 10 // n + 1 AS dec
      FROM r
    ), tot AS (SELECT SUM(n_chars) AS tt FROM documents),
    e AS (SELECT unnest(range(1, {_CURR_EPOCHS} + 1)) AS epoch)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(LEAST(2 * epoch, 10) AS BIGINT) AS max_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) * 1000000 // MAX(tot.tt) AS BIGINT)
             AS token_share_ppm
    FROM e JOIN d ON d.dec <= LEAST(2 * epoch, 10) CROSS JOIN tot
    GROUP BY epoch
    """,
    doc=f"competence-based curriculum schedule over {_CURR_EPOCHS} "
    "epochs: difficulty deciles (complexity proxy: doc length), each "
    "epoch admits deciles ≤ 2·epoch — per-epoch doc/token budgets and "
    "integer-ppm corpus share (Platanios et al. 2019 shape)",
)
def corpus_curriculum_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum learning's data-engineering half: order the corpus by
    a difficulty score, cut into deciles, and admit harder deciles as
    training competence grows (epoch e sees deciles ≤ 2e — the linear
    competence function; swap the column for any scorer: perplexity,
    quality, rarity). The emitted schedule rows are what a training
    loop's sampler consumes: per-epoch document counts, token budgets,
    and corpus-share ppm. Difficulty here is document LENGTH — the
    standard cheap proxy (short→long curriculum); the op is
    deliberately scorer-agnostic.

    Integer discipline: decile assignment is exact integer rank
    arithmetic ((rk−1)·10 div n + 1); shares are integer-ppm
    floor-ratios of exact byte sums.

    Scale: the only corpus-scale work is the two-phase rank
    (``with_total_rank`` — bucketed, no single-partition sort) and one
    map-side-combined aggregate per epoch×decile join against a
    5-row broadcast epoch spine. The schedule output is O(epochs).
    """
    from cs_pipeline_spark.operators.helpers import with_total_rank

    docs = load(spark, "documents", sf_dir).select("doc_id", "n_chars")
    d = with_total_rank(
        docs, "n_chars", ("doc_id",), rn="rk", nn="n"
    ).select(
        "n_chars",
        F.expr("(cast(rk as bigint) - 1) * 10 div n + 1").alias("dec"),
    )
    tot = docs.agg(F.sum("n_chars").alias("tt"))
    epochs = spark.range(1, _CURR_EPOCHS + 1).select(
        F.col("id").alias("epoch")
    )
    adm = d.join(
        F.broadcast(epochs),
        F.col("dec") <= F.least(2 * F.col("epoch"), F.lit(10)),
    )
    return (
        adm.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            F.least(2 * F.col("epoch"), F.lit(10))
            .cast("long")
            .alias("max_decile"),
            "n_docs",
            "n_tokens",
            # decimal(38,0) product: n_tokens*1e6 overflows int64 past
            # ~9.2e12 chars per epoch (DuckDB promotes SUM to HUGEINT)
            F.expr("cast(n_tokens as decimal(38,0)) * 1000000 div tt")
            .cast("long")
            .alias("token_share_ppm"),
        )
    )


# ---------- Shapley data valuation (vocabulary-coverage game) ----------

_SHAP_L = 232792560  # lcm(1..20): exact 1/k scaling for ≤20 players


@register(
    "corpus_shapley_source_value",
    f"""
    WITH st AS (SELECT DISTINCT source, unnest(string_split(
                  {{norm}}, ' ')) AS tok
                FROM documents),
    stc AS (SELECT source, tok FROM st WHERE tok <> ''),
    k AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS kk
          FROM stc GROUP BY tok)
    SELECT stc.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_carried,
           CAST(SUM(CASE WHEN k.kk = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exclusive,
           CAST(SUM({_SHAP_L} // k.kk) AS BIGINT) AS shapley_scaled
    FROM stc JOIN k ON k.tok = stc.tok
    GROUP BY stc.source
    """.replace("{norm}", "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"),
    doc="Shapley data valuation of sources under the vocabulary-"
    "coverage game: v(S) = distinct tokens covered by source set S "
    "has the exact closed form φ_src = Σ 1/k over carried tokens "
    "(k = carrier count) — scaled by lcm(1..20) to stay integer; "
    "Σ φ = L·|vocab| (the efficiency axiom) is the built-in audit",
)
def corpus_shapley_source_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which sources earn their place in the mix: exact Shapley values
    of the coverage game. For set-coverage utilities the exponential
    coalition sum collapses — every token carried by k sources gives
    each carrier exactly 1/k (symmetry + efficiency), so the whole
    attribution is one carrier-count aggregate, no 2^m enumeration.
    Values are scaled by L = lcm(1..20) (exact integers for ≤ 20
    sources; more sources ⇒ raise L or accept ppm truncation — one
    constant). Σ shapley_scaled = L·|vocab| by the efficiency axiom —
    pinned by test.

    Scale: distinct (source, token) is one map-side-deduped shuffle;
    carrier counts are vocab-sized; the valuation aggregate is
    |sources| rows. The same closed form prices any set-coverage
    utility (docs covered, domains covered) at any corpus size.
    """
    docs = load(spark, "documents", sf_dir)
    stc = (
        docs.select(
            "source", F.explode(_tokens(F.expr(_NORM))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    stc = pin(stc)
    k = stc.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("kk"))
    return (
        stc.join(k, "tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens_carried"),
            F.sum(F.when(F.col("kk") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_exclusive"),
            F.sum(F.expr(f"{_SHAP_L} div kk")).cast("long").alias(
                "shapley_scaled"
            ),
        )
    )


# ---------- DSIR-style importance resampling weights ----------
#
# Data Selection via Importance Resampling (Xie et al. 2023): score
# every raw document by the log likelihood ratio of a hashed
# bag-of-n-grams multinomial fit on a TARGET domain vs one fit on the
# RAW corpus, then resample proportional to the weights. Target here
# is the English slice (the "high-quality domain" stand-in); features
# are md5-hashed unigram buckets. Determinism: the per-BUCKET log
# ratio is the only transcendental — quantized to integer nano-units
# once over a 256-row table (the chi2/entropy term convention) — so
# every document weight is an exact integer combination Σ c_b · lr_b.

_DSIR_B = 256  # hashed feature buckets
_DSIR_TARGET = "en"


def _dsir_bucket_spark(tok):
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % _DSIR_B
    )


_DSIR_BUCKET_SQL = (
    f"CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_B}"
)

_DSIR_ORACLE = f"""
    WITH dt AS (SELECT doc_id, lang,
                       unnest({_DUCK_TOKENS}) AS tok FROM documents),
    tf AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b
           FROM dt WHERE tok <> ''),
    dc AS (SELECT doc_id, b, COUNT(*) AS c FROM tf GROUP BY doc_id, b),
    br AS (SELECT b, COUNT(*) AS cr FROM tf GROUP BY b),
    bt AS (SELECT b, COUNT(*) AS ct FROM tf
           WHERE lang = '{_DSIR_TARGET}' GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM tf) AS tr,
                   (SELECT COUNT(*) FROM tf
                    WHERE lang = '{_DSIR_TARGET}') AS tt),
    lr AS (SELECT br.b,
                  CAST(FLOOR(LN(
                    (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * (tr + {_DSIR_B}))
                    / (CAST(cr + 1 AS DOUBLE) * (tt + {_DSIR_B}))
                  ) * 1000000000.0 + 0.5) AS BIGINT) AS lrn
           FROM br LEFT JOIN bt ON bt.b = br.b, tot)
    SELECT dc.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(c * lrn) AS BIGINT) AS logw_nano,
           CAST(CASE WHEN SUM(c * lrn) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS keep
    FROM dc JOIN lr ON lr.b = dc.b GROUP BY dc.doc_id
"""


@register(
    "corpus_dsir_weights",
    _DSIR_ORACLE,
    doc="DSIR importance-resampling weights (Xie et al.): per-doc log "
    "likelihood ratio of a hashed bag-of-unigrams multinomial fit on "
    f"the '{_DSIR_TARGET}' target slice vs the raw corpus — Laplace-"
    f"smoothed over {_DSIR_B} md5 buckets, the per-bucket log ratio "
    "quantized to integer nanos (the ONLY transcendental), doc weight "
    "= exact Σ c_b·lr_b; keep = weight > 1 — the pretraining "
    "data-selection method between heuristic filters and full "
    "classifier scoring",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR in one plan: (1) one tokenize pass buckets every token by
    md5 hash; (2) the 256-row bucket table gets raw and target counts
    plus the Laplace-smoothed log ratio ln(((ct+1)(Tr+B)) /
    ((cr+1)(Tt+B))), floor-quantized at 1e-9 — term-level
    quantization, so the cross-engine hash never sees a raw ln; (3)
    each doc's weight is the integer dot product of its bucket counts
    with the quantized table. keep = (logw_nano > 0) marks docs the
    target model likes more than the raw model — the resampling
    acceptance core (full DSIR samples ∝ exp(logw); the weights here
    are the sufficient statistic).

    Scale: the fact side is ONE tokenize + a (doc, bucket) count
    (map-side combined, ≤256 rows per doc); the bucket model is 256
    rows — broadcast — regardless of corpus size; totals are 1-row
    aggregates. Exactly the published method's shape: fit once
    (tiny model), score everything in one streaming pass. Raising
    the feature order to hashed bigrams only changes the tokenize
    stage.
    """
    docs = load(spark, "documents", sf_dir)
    tf = pin(
        docs.select(
            "doc_id",
            "lang",
            F.explode(_tokens(F.expr(_NORM))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select("doc_id", "lang", _dsir_bucket_spark(F.col("tok")).alias("b"))
    )
    dc = tf.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    br = tf.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    bt = (
        tf.filter(F.col("lang") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = tf.agg(
        F.count(F.lit(1)).alias("tr"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET, 1).otherwise(0)
        ).alias("tt"),
    )
    lr = (
        br.join(bt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                        * (F.col("tr") + _DSIR_B)
                    )
                    / (
                        (F.col("cr") + 1).cast("double")
                        * (F.col("tt") + _DSIR_B)
                    )
                )
                * 1000000000.0
                + 0.5
            )
            .cast("long")
            .alias("lrn"),
        )
    )
    return (
        dc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lrn")).cast("long").alias("logw_nano"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logw_nano",
            F.when(F.col("logw_nano") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )
