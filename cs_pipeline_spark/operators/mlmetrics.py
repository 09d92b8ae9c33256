"""Distributed ML primitives: model evaluation and closed-form
training as pure relational plans.

A training-data platform doesn't just *assemble* datasets — it scores
baselines, audits classifier quality, and fits cheap reference models
(the "is a linear model already good enough?" gate) at corpus scale.
Every op here follows the repo's exact-integer discipline: counts and
rank statistics are integers, transcendental terms (ln) are quantized
at 1e-9 BEFORE any cross-row sum (the chi-square convention in
``aggregate.py``), and ratios are integer-ppm or single quantized
divisions of exact moments — so every op hash-matches the DuckDB
oracle bit-for-bit.

Reference parity: the reference pipeline trains a downstream model on
the assembled ERA5 samples (see ``ml_sample_assembly``,
inference core.py:37-135); these ops add the surrounding evaluation
machinery a production pipeline runs on the SAME engine instead of
exporting to a single-node scikit job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.dedup import _NORM, _NORM_DUCK
from cs_pipeline_spark.operators.helpers import dec_to_double, dround, with_rank_targets, with_total_rank, one_part, literal_df
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import load


def _q6(col):
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def _q9(col):
    """1e-9 floor-quantized transcendental term (chi2 convention)."""
    return F.floor(col * F.lit(1000000000.0) + F.lit(0.5)).cast("long")


@register(
    "ml_confusion_metrics",
    """
    WITH q AS (
      SELECT CAST(event_type = 'purchase' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    m AS (SELECT qv AS mq FROM q ORDER BY qv
          LIMIT 1 OFFSET (SELECT (COUNT(*) - 1) // 2 FROM q)),
    c AS (
      SELECT
        SUM(CASE WHEN y = 1 AND qv >  mq THEN 1 ELSE 0 END) AS tp,
        SUM(CASE WHEN y = 0 AND qv >  mq THEN 1 ELSE 0 END) AS fp,
        SUM(CASE WHEN y = 1 AND qv <= mq THEN 1 ELSE 0 END) AS fn,
        SUM(CASE WHEN y = 0 AND qv <= mq THEN 1 ELSE 0 END) AS tn
      FROM q CROSS JOIN m
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(CASE WHEN tp + fp > 0
                THEN tp * 1000000 // (tp + fp) END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN tp + fn > 0
                THEN tp * 1000000 // (tp + fn) END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN 2 * tp + fp + fn > 0
                THEN 2 * tp * 1000000 // (2 * tp + fp + fn) END AS BIGINT)
             AS f1_ppm,
           CAST((tp + tn) * 1000000 // (tp + fp + fn + tn) AS BIGINT)
             AS accuracy_ppm
    FROM c
    """,
    doc="classifier confusion matrix + precision/recall/F1/accuracy "
    "(integer ppm) for the median-threshold value rule vs the "
    "purchase label — the evaluation primitive every model gate reads",
)
def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation: a fixed decision rule (value
    above the global lower median) scored against the `purchase`
    label. TP/FP/FN/TN are exact conditional counts; precision,
    recall, F1 and accuracy are integer-ppm ratios of those counts
    (F1 computed as 2·TP/(2·TP+FP+FN) — one integer division, no
    float harmonic mean).

    The median threshold is an in-plan rank pick (count(*) over () +
    row_number), keeping the builder lazy — no driver-side count.

    Scale: one window pass for the median (at 100 TB: per-segment
    medians or an approx-quantile threshold), then one conditional
    aggregate — map-side combined, one row out.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        _q6(F.col("value")).alias("qv"),
    )
    # targeted-bucket median pick: no full ranking, the sort touches
    # only the bucket containing the median rank
    med = with_rank_targets(
        q.select("qv"), "qv", (), ["(nn - 1) div 2 + 1"]
    ).select(F.col("value").alias("mq"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    c = q.crossJoin(F.broadcast(med)).agg(
        cnt((F.col("y") == 1) & (F.col("qv") > F.col("mq"))).alias("tp"),
        cnt((F.col("y") == 0) & (F.col("qv") > F.col("mq"))).alias("fp"),
        cnt((F.col("y") == 1) & (F.col("qv") <= F.col("mq"))).alias("fn"),
        cnt((F.col("y") == 0) & (F.col("qv") <= F.col("mq"))).alias("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp) END"
        ).cast("long").alias("precision_ppm"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn) END"
        ).cast("long").alias("recall_ppm"),
        F.expr(
            "CASE WHEN 2 * tp + fp + fn > 0 "
            "THEN 2 * tp * 1000000 div (2 * tp + fp + fn) END"
        ).cast("long").alias("f1_ppm"),
        F.expr("(tp + tn) * 1000000 div (tp + fp + fn + tn)")
        .cast("long")
        .alias("accuracy_ppm"),
    )


@register(
    "ml_calibration_bins",
    """
    WITH q AS (
      SELECT event_id,
             CAST(event_type = 'purchase' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    r AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY qv, event_id) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    s AS (
      SELECT y,
             (rn - 1) * 10 // nn + 1 AS bin,
             (rn - 1) * 1000000 // (nn - 1) AS score_ppm
      FROM r
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm
    FROM s GROUP BY bin
    """,
    doc="calibration/reliability bins: rank-based score deciles vs "
    "observed positive rate (integer ppm) — the reliability-diagram "
    "table; a calibrated score has mean_score ≈ pos_rate per bin",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram input: rows ranked by score (here the raw
    value on a deterministic total order), score mapped to an exact
    integer percent-rank (ppm), ten equal-rank bins, and per bin the
    mean score vs the observed positive rate. A calibrated model's
    bins hug the diagonal; this table is what the calibration plot
    and the ECE metric read.

    All arithmetic is integer: rank ppm, integer-division binning
    ((rn−1)·10 div n — the same dyadic binning mm_batch_collate uses),
    ppm rates of exact counts.

    Scale: the global rank is the one total order (at 100 TB:
    repartitionByRange on the score so ranks are computed per range
    partition with offsets, or bin by approx-quantile boundaries);
    everything after is one map-side-combined aggregate on 10 keys.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        _q6(F.col("value")).alias("qv"),
    )
    r = with_total_rank(
        q, "qv", ("event_id",), nn="nn"
    ).select("y", "rn", "nn")
    s = r.select(
        "y",
        # row_number() is 32-bit — widen before the ×1e6 (ANSI overflow)
        F.expr("(cast(rn as bigint) - 1) * 10 div nn + 1").alias("bin"),
        F.expr(
            "(cast(rn as bigint) - 1) * 1000000 div (nn - 1)"
        ).alias("score_ppm"),
    )
    return s.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(score_ppm) div count(1)")
        .cast("long")
        .alias("mean_score_ppm"),
        F.expr("sum(y) * 1000000 div count(1)")
        .cast("long")
        .alias("pos_rate_ppm"),
    )


@register(
    "ml_naive_bayes",
    f"""
    WITH toks AS (
      SELECT doc_id, lang AS lang_true, tok FROM (
        SELECT doc_id, lang,
               unnest(string_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents) t
      WHERE tok <> ''
    ),
    vsz AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
    dtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
    lstat AS (SELECT lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS tl
              FROM toks GROUP BY 1),
    dcnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS dl
             FROM documents GROUP BY 1),
    langs AS (
      SELECT l.lang, l.tl,
             CAST(FLOOR(ln(CAST(dc.dl AS DOUBLE) / CAST(dt.d AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS prior,
             CAST(FLOOR(ln(1.0 / CAST(l.tl + s.v AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w0
      FROM lstat l JOIN dcnt dc ON dc.lang = l.lang
      CROSS JOIN vsz s CROSS JOIN dtot dt
    ),
    model AS (
      SELECT tc.lang, tc.tok,
             CAST(FLOOR(ln(CAST(tc.c + 1 AS DOUBLE)
                  / CAST(l.tl + s.v AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w
      FROM (SELECT lang_true AS lang, tok, COUNT(*) AS c
            FROM toks GROUP BY 1, 2) tc
      JOIN langs l ON l.lang = tc.lang CROSS JOIN vsz s
    ),
    dtc AS (
      SELECT doc_id, lang_true, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT tk.doc_id, tk.lang_true, lg.lang,
             MIN(lg.prior) + SUM(tk.cnt * COALESCE(m.w, lg.w0)) AS s
      FROM dtc tk CROSS JOIN langs lg
      LEFT JOIN model m ON m.lang = lg.lang AND m.tok = tk.tok
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT doc_id, lang_true, lang AS lang_pred,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, lang ASC) AS rn
      FROM scored
    )
    SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
    doc="multinomial naive Bayes language classifier (Laplace-smoothed, "
    "trained and resubstitution-scored in one plan) — confusion matrix "
    "out; every log term quantized at 1e-9 before the per-doc sum",
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained IN the engine: token counts per
    language (one map-side-combined aggregate) become Laplace-smoothed
    log-likelihood weights; each document is scored against every
    language by summing its tokens' weights (unseen tokens get the
    per-language floor weight) plus the class log-prior, and argmax
    with a deterministic tie-break (score desc, lang asc) yields the
    prediction. Output is the resubstitution confusion matrix — the
    quality table a lang-id audit reads (``text_lang_id`` is the
    heuristic twin; this is the learned one).

    Determinism: every ln() term is floor-quantized at 1e-9 BEFORE any
    cross-row sum (the chi2/entropy convention), so per-doc scores are
    exact integer sums — identical on any partitioning and engine.

    Scale: the model is vocab×langs rows (≪ corpus) built in one
    aggregate; scoring joins doc tokens to the model on the token key
    (broadcast when the vocab fits, shuffle-hash otherwise — never a
    per-doc Python loop). The langs table (5 rows) broadcasts into
    the cross join, so the fact stream is shuffled once, on doc_id,
    for the final per-doc argmax.
    """
    docs = load(spark, "documents", sf_dir)
    toks = (
        docs.select(
            "doc_id",
            F.col("lang").alias("lang_true"),
            F.explode(F.split(F.expr(_NORM), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    vsz = toks.agg(F.countDistinct("tok").cast("long").alias("v"))
    dtot = docs.agg(F.count(F.lit(1)).cast("long").alias("d"))
    lstat = toks.groupBy(F.col("lang_true").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("tl")
    )
    dcnt = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    langs = (
        lstat.join(dcnt, "lang")
        .crossJoin(F.broadcast(vsz))
        .crossJoin(F.broadcast(dtot))
        .select(
            "lang",
            "tl",
            _q9(
                F.log(F.col("dl").cast("double") / F.col("d").cast("double"))
            ).alias("prior"),
            _q9(
                F.log(
                    F.lit(1.0) / (F.col("tl") + F.col("v")).cast("double")
                )
            ).alias("w0"),
        )
    )
    model = (
        toks.groupBy(F.col("lang_true").alias("lang"), "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(langs.select("lang", "tl"), "lang")
        .crossJoin(F.broadcast(vsz))
        .select(
            "lang",
            "tok",
            _q9(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tl") + F.col("v")).cast("double")
                )
            ).alias("w"),
        )
    )
    # collapse token multiplicity BEFORE the scoring join: the join
    # input shrinks to distinct (doc, token) pairs and each pair
    # contributes cnt·w — same sum, far fewer joined rows
    dtc = toks.groupBy("doc_id", "lang_true", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    scored = (
        dtc.crossJoin(F.broadcast(langs.select("lang", "prior", "w0")))
        # token keys are high-cardinality and uniform: shuffle-hash
        # beats sort-merge (no per-partition sort of the fact stream);
        # broadcast only when the vocab×langs model is known-small
        .join(model.hint("shuffle_hash").withColumnRenamed("lang", "_ml"),
              (F.col("_ml") == F.col("lang")) & (model.tok == dtc.tok),
              "left")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(
            (
                F.min("prior")
                + F.sum(F.col("cnt") * F.coalesce("w", "w0"))
            ).alias("s")
        )
    )
    pred = scored.select(
        "lang_true",
        F.col("lang").alias("lang_pred"),
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.desc("s"), F.asc("lang")
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "ml_linreg_normal",
    """
    WITH q AS (
      SELECT CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS HUGEINT)
               AS x1,
             CAST(isodow(CAST(ts AS TIMESTAMP)) AS HUGEINT) AS x2,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS yq
      FROM events
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(yq) AS sy,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
             SUM(x1 * x2) AS s12,
             SUM(x1 * yq) AS s1y, SUM(x2 * yq) AS s2y
      FROM q
    ),
    c AS (
      SELECT n, sx1, sx2, sy,
             n * s11 - sx1 * sx1 AS c11,
             n * s22 - sx2 * sx2 AS c22,
             n * s12 - sx1 * sx2 AS c12,
             n * s1y - sx1 * sy AS c1y,
             n * s2y - sx2 * sy AS c2y
      FROM m
    ),
    b AS (
      SELECT n, sx1, sx2, sy,
             FLOOR(CAST(CAST(c1y * c22 - c2y * c12 AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(c11 * c22 - c12 * c12 AS VARCHAR) AS DOUBLE)
                   / 1000000.0 * 1000000000.0 + 0.5) / 1000000000.0 AS b1,
             FLOOR(CAST(CAST(c2y * c11 - c1y * c12 AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(c11 * c22 - c12 * c12 AS VARCHAR) AS DOUBLE)
                   / 1000000.0 * 1000000000.0 + 0.5) / 1000000000.0 AS b2
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_rows, b1, b2,
           FLOOR((CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 1000000.0
                  - b1 * CAST(CAST(sx1 AS VARCHAR) AS DOUBLE)
                  - b2 * CAST(CAST(sx2 AS VARCHAR) AS DOUBLE))
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE)
                 * 1000000000.0 + 0.5) / 1000000000.0 AS b0
    FROM b
    """,
    doc="closed-form OLS (2 features: hour-of-day, ISO weekday) via "
    "normal equations on exact integer moments — Cramer's-rule slopes "
    "from cancellation-free centered co-moments, quantized at 1e-9",
)
def ml_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression fitted in ONE aggregation pass: the
    nine sufficient moments (n, Σx, Σx², Σxy …) are exact integer
    sums (y quantized at 1e-6, features are small integers), centered
    co-moments are exact integer differences scaled by n, and the two
    slopes come from Cramer's rule — only the final divisions are
    floats, each floor-quantized at 1e-9. The intercept derives from
    the ALREADY-quantized slopes so it's a fixed float expression of
    exact values, bit-identical on both engines.

    This is the distributed "fit a baseline model" primitive: the
    moment pass is embarrassingly parallel (map-side combine, one row
    shuffled per partition) — the textbook scale-out for closed-form
    models, no iteration, no driver-side data.

    Scale: one scan, one 1-row aggregate. Moment magnitudes are
    bounded by n·max(x)·max(y) — at ≳1e8 rows pre-scale y's quantum
    (the CLAUDE.md overflow rule); HUGEINT/DECIMAL(38,0) carries the
    rest.
    """
    ev = load(spark, "events", sf_dir)
    d38 = "decimal(38,0)"
    q = ev.select(
        F.hour("ts").cast(d38).alias("x1"),
        F.expr("weekday(ts) + 1").cast(d38).alias("x2"),
        _q6(F.col("value")).cast(d38).alias("yq"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("yq")).alias("s1y"),
        F.sum(F.col("x2") * F.col("yq")).alias("s2y"),
    )
    c = m.select(
        "n",
        "sx1",
        "sx2",
        "sy",
        (F.col("n") * F.col("s11") - F.col("sx1") * F.col("sx1")).alias("c11"),
        (F.col("n") * F.col("s22") - F.col("sx2") * F.col("sx2")).alias("c22"),
        (F.col("n") * F.col("s12") - F.col("sx1") * F.col("sx2")).alias("c12"),
        (F.col("n") * F.col("s1y") - F.col("sx1") * F.col("sy")).alias("c1y"),
        (F.col("n") * F.col("s2y") - F.col("sx2") * F.col("sy")).alias("c2y"),
    )
    qz = lambda x: F.floor(x * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)  # noqa: E731
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    num1 = F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")
    num2 = F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")
    b = c.select(
        "n",
        "sx1",
        "sx2",
        "sy",
        qz(
            num1.cast("string").cast("double")
            / det.cast("string").cast("double")
            / F.lit(1e6)
        ).alias("b1"),
        qz(
            num2.cast("string").cast("double")
            / det.cast("string").cast("double")
            / F.lit(1e6)
        ).alias("b2"),
    )
    return b.select(
        F.col("n").cast("long").alias("n_rows"),
        "b1",
        "b2",
        qz(
            (
                dec_to_double("sy") / F.lit(1e6)
                - F.col("b1") * dec_to_double("sx1")
                - F.col("b2") * dec_to_double("sx2")
            )
            / dec_to_double("n")
        ).alias("b0"),
    )


@register(
    "ml_decision_stump",
    """
    WITH q AS (
      SELECT CAST(event_type = 'error' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    r AS (
      SELECT qv,
             ROW_NUMBER() OVER (ORDER BY qv) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    thr AS (
      SELECT k.k, r.qv AS t
      FROM (SELECT unnest(range(1, 10)) AS k) k
      JOIN r ON r.rn = (k.k * (r.nn - 1)) // 10 + 1
    ),
    ev AS (
      SELECT thr.k, thr.t,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN qv <= t THEN 1 ELSE 0 END) AS HUGEINT)
               AS nl,
             CAST(SUM(CASE WHEN qv <= t AND y = 1 THEN 1 ELSE 0 END)
               AS HUGEINT) AS pl,
             CAST(SUM(y) AS HUGEINT) AS p
      FROM q CROSS JOIN thr GROUP BY thr.k, thr.t
    ),
    g AS (
      SELECT k, t, n, nl, pl, n - nl AS nr, p - pl AS pr,
             CASE WHEN nl = 0 THEN CAST(0 AS HUGEINT)
                  ELSE (nl * nl - pl * pl - (nl - pl) * (nl - pl))
                       * 1000000 // (nl * nl) END AS gl,
             CASE WHEN n - nl = 0 THEN CAST(0 AS HUGEINT)
                  ELSE ((n - nl) * (n - nl) - (p - pl) * (p - pl)
                        - ((n - nl) - (p - pl)) * ((n - nl) - (p - pl)))
                       * 1000000 // ((n - nl) * (n - nl)) END AS gr
      FROM ev
    ),
    w AS (
      SELECT k, t, nl, nr, pl, pr,
             (nl * gl + nr * gr) // n AS wg,
             ROW_NUMBER() OVER (ORDER BY (nl * gl + nr * gr) // n ASC,
                                t ASC, k ASC) AS rnk
      FROM g
    )
    SELECT CAST(t AS DOUBLE) / 1000000.0 AS threshold,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           CAST(pl AS BIGINT) AS pos_left, CAST(pr AS BIGINT) AS pos_right,
           CAST(wg AS BIGINT) AS gini_ppm
    FROM w WHERE rnk = 1
    """,
    doc="decision-stump training: best of 9 exact decile thresholds "
    "on value predicting the error label by weighted Gini impurity "
    "(integer ppm) — one candidate-cross pass, deterministic argmin",
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a one-split decision tree in two passes: candidate
    thresholds are the nine exact decile ranks of the feature (the
    element-pick convention — no float interpolation), then ONE
    conditional-aggregation pass over events×9 computes left/right
    class counts per candidate, Gini impurity as an exact integer-ppm
    rational ((n²−pos²−neg²)·1e6 div n²), and the argmin with a
    deterministic tie-break (threshold asc) is the stump. This is the
    inner loop of distributed tree learning (each tree node = one such
    pass over its partition of the data).

    Scale: the ×9 candidate fan-out is a broadcast nested loop over a
    9-row table — the fact stream is scanned once, aggregated
    map-side to 9 rows. Counts are squared in HUGEINT/DECIMAL(38,0)
    (n² at 3e9 rows would overflow int64 — the CLAUDE.md rule). The
    global decile rank is the one total order; at 100 TB swap in
    approx-quantile candidates (the threshold set need not be exact
    for a heuristic splitter — Gini evaluation stays exact).
    """
    ev = load(spark, "events", sf_dir)
    # pinned: consumed by the rank-target pass AND the candidate
    # cross-join; lifetime bounded by the registry LRU entry
    q = pin(
        ev.select(
            (F.col("event_type") == "error").cast("int").alias("y"),
            _q6(F.col("value")).alias("qv"),
        )
    )
    # decile thresholds via targeted-bucket rank picks — only the ≤9
    # buckets holding the target ranks are ever sorted
    thr = with_rank_targets(
        q.select("qv"), "qv", (), ["((tid + 1) * (nn - 1)) div 10 + 1"] * 9
    ).select(
        (F.col("tid") + 1).cast("long").alias("k"),
        F.col("value").alias("t"),
    )
    d38 = "decimal(38,0)"
    evx = (
        q.crossJoin(F.broadcast(thr))
        .groupBy("k", "t")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum(F.when(F.col("qv") <= F.col("t"), 1).otherwise(0))
            .cast(d38)
            .alias("nl"),
            F.sum(
                F.when((F.col("qv") <= F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast(d38)
            .alias("pl"),
            F.sum("y").cast(d38).alias("p"),
        )
    )
    g = evx.select(
        "k",
        "t",
        "n",
        "nl",
        "pl",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("p") - F.col("pl")).alias("pr"),
        F.expr(
            "CASE WHEN nl = 0 THEN CAST(0 AS decimal(38,0)) ELSE "
            "(nl * nl - pl * pl - (nl - pl) * (nl - pl)) * 1000000 "
            "div (nl * nl) END"
        ).alias("gl"),
        F.expr(
            "CASE WHEN n - nl = 0 THEN CAST(0 AS decimal(38,0)) ELSE "
            "((n - nl) * (n - nl) - (p - pl) * (p - pl) "
            "- ((n - nl) - (p - pl)) * ((n - nl) - (p - pl))) * 1000000 "
            "div ((n - nl) * (n - nl)) END"
        ).alias("gr"),
    )
    w = g.select(
        "t",
        "k",
        "nl",
        "nr",
        "pl",
        "pr",
        F.expr("(nl * gl + nr * gr) div n").alias("wg"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy(one_part("k")).orderBy(
                F.asc("wg"), F.asc("t"), F.asc("k")
            )
        ),
    ).filter(F.col("rnk") == 1)
    return w.select(
        (F.col("t").cast("double") / F.lit(1e6)).alias("threshold"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("nr").cast("long").alias("n_right"),
        F.col("pl").cast("long").alias("pos_left"),
        F.col("pr").cast("long").alias("pos_right"),
        F.col("wg").cast("long").alias("gini_ppm"),
    )


@register(
    "ml_pr_curve",
    """
    WITH q AS (
      SELECT CAST(event_type = 'purchase' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    r AS (
      SELECT qv,
             ROW_NUMBER() OVER (ORDER BY qv) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    thr AS (
      SELECT k.k, r.qv AS t
      FROM (SELECT unnest(range(1, 10)) AS k) k
      JOIN r ON r.rn = (k.k * (r.nn - 1)) // 10 + 1
    ),
    c AS (
      SELECT thr.k, thr.t,
             SUM(CASE WHEN y = 1 AND qv > t THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN y = 0 AND qv > t THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN y = 1 AND qv <= t THEN 1 ELSE 0 END) AS fn
      FROM q CROSS JOIN thr GROUP BY thr.k, thr.t
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(t AS DOUBLE) / 1000000.0 AS threshold,
           CAST(tp + fp AS BIGINT) AS n_pred_pos,
           CAST(CASE WHEN tp + fp > 0
                THEN tp * 1000000 // (tp + fp) END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN tp + fn > 0
                THEN tp * 1000000 // (tp + fn) END AS BIGINT)
             AS recall_ppm
    FROM c
    """,
    doc="precision-recall curve at the 9 exact decile thresholds "
    "(integer ppm) — the operating-point table behind threshold "
    "selection; completes ml_confusion_metrics' single point",
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full operating-characteristic sweep: the same exact
    decile-rank candidate thresholds as ``ml_decision_stump``, each
    scored as a classifier cutoff with integer-ppm precision/recall.
    Reading the 9 rows top-down is walking the PR curve; the
    area-under estimate and the knee-point threshold both derive from
    this table.

    Scale: identical shape to the stump — one global-rank pass for
    the thresholds (approx-quantile at 100 TB), one ×9 broadcast
    fan-out aggregated map-side to 9 rows.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        _q6(F.col("value")).alias("qv"),
    )
    # decile thresholds via targeted-bucket rank picks — only the ≤9
    # buckets holding the target ranks are ever sorted
    thr = with_rank_targets(
        q.select("qv"), "qv", (), ["((tid + 1) * (nn - 1)) div 10 + 1"] * 9
    ).select(
        (F.col("tid") + 1).cast("long").alias("k"),
        F.col("value").alias("t"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    c = (
        q.crossJoin(F.broadcast(thr))
        .groupBy("k", "t")
        .agg(
            cnt((F.col("y") == 1) & (F.col("qv") > F.col("t"))).alias("tp"),
            cnt((F.col("y") == 0) & (F.col("qv") > F.col("t"))).alias("fp"),
            cnt((F.col("y") == 1) & (F.col("qv") <= F.col("t"))).alias("fn"),
        )
    )
    return c.select(
        F.col("k").cast("long").alias("k"),
        (F.col("t").cast("double") / F.lit(1e6)).alias("threshold"),
        (F.col("tp") + F.col("fp")).cast("long").alias("n_pred_pos"),
        F.expr(
            "CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp) END"
        ).cast("long").alias("precision_ppm"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn) END"
        ).cast("long").alias("recall_ppm"),
    )


_GD_ROUNDS = 4
_GD_ETA_DIV = 16000  # η = 1e6/(16000·1e9) per unit gradient — dyadic-free
                     # but exact: integer division, truncation toward zero
                     # identical in both engines for any sign


def _logreg_oracle() -> str:
    parts = [
        "WITH base AS MATERIALIZED (",
        "SELECT CAST(event_type = 'purchase' AS INT) AS y, ",
        "CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1 ",
        "FROM events), ",
        "wa0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1)",
    ]
    for r in range(_GD_ROUNDS):
        parts.append(
            f", p{r} AS MATERIALIZED (SELECT y, x1, "
            "CAST(FLOOR(1.0 / (1.0 + exp(-(CAST(w.w0 + w.w1 * x1 AS DOUBLE)"
            " / 1000000.0))) * 1000000000.0 + 0.5) AS BIGINT) AS p "
            f"FROM base CROSS JOIN wa{r} w)"
        )
        parts.append(
            f", g{r} AS (SELECT "
            "SUM(CAST(p - y * 1000000000 AS HUGEINT)) AS ga, "
            "SUM(CAST(p - y * 1000000000 AS HUGEINT) * x1) AS gb, "
            f"CAST(COUNT(*) AS HUGEINT) AS n FROM p{r})"
        )
        parts.append(
            f", wa{r + 1} AS (SELECT "
            f"CAST(w.w0 - g.ga // ({_GD_ETA_DIV} * g.n) AS BIGINT) AS w0, "
            f"CAST(w.w1 - g.gb // ({_GD_ETA_DIV} * g.n) AS BIGINT) AS w1 "
            f"FROM g{r} g CROSS JOIN wa{r} w)"
        )
    parts.append(
        f""", fin AS (
      SELECT CAST(SUM(CASE WHEN ((w.w0 + w.w1 * x1) > 0) = (y = 1)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base CROSS JOIN wa{_GD_ROUNDS} w)
    SELECT w.w0 AS w0_micro, w.w1 AS w1_micro, fin.n AS n_rows,
           CAST(fin.n_correct * 1000000 // fin.n AS BIGINT) AS acc_ppm
    FROM wa{_GD_ROUNDS} w CROSS JOIN fin"""
    )
    return "".join(parts)


@register(
    "ml_logreg_gd",
    _logreg_oracle(),
    doc=f"logistic regression by {_GD_ROUNDS}-round full-batch gradient "
    "descent as iterated relational algebra: integer-micro weights, "
    "per-row 1e-9-quantized sigmoid, exact HUGEINT gradients — "
    "iterative optimization with bit-stable trajectories",
)
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient descent AS dataflow: each round is (broadcast the
    2-weight state) → (one scan computing per-row quantized sigmoid
    probabilities) → (one 1-row gradient aggregate) → (integer weight
    update). Because the sigmoid is floor-quantized at 1e-9 per row
    BEFORE the gradient sum (the chi2 convention), the whole training
    trajectory is a sequence of exact integers — rerun it on any
    partitioning, any engine, and the weights match bit-for-bit; the
    property SGD pipelines give up and full-batch GD on an engine can
    keep. Learning rate is an integer divisor (truncation toward zero
    matches Spark ``div`` / DuckDB ``//`` on either sign).

    Output: final weights (micro units), training accuracy of the
    fitted boundary. ``ml_linreg_normal`` is the closed-form sibling;
    this is the template for anything without a closed form.

    Scale: per round ONE corpus scan + a 1-row aggregate (map-side
    combined) — the classic iterative-ML-on-MapReduce shape; rounds
    are few and the state is O(features), broadcast each round. The
    oracle materializes each round's CTEs (the k-core/BFS rule).
    """
    ev = load(spark, "events", sf_dir)
    base = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.hour("ts").cast("long").alias("x1"),
    )
    w = spark.range(1).select(
        F.lit(0).cast("long").alias("w0"), F.lit(0).cast("long").alias("w1")
    )
    d38 = "decimal(38,0)"
    for _ in range(_GD_ROUNDS):
        p = base.crossJoin(F.broadcast(w)).select(
            "y",
            "x1",
            _q9(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            (F.col("w0") + F.col("w1") * F.col("x1"))
                            .cast("double")
                            / F.lit(1e6)
                        )
                    )
                )
            ).alias("p"),
            "w0",
            "w1",
        )
        g = p.agg(
            F.sum((F.col("p") - F.col("y") * F.lit(1000000000)).cast(d38))
            .alias("ga"),
            F.sum(
                (F.col("p") - F.col("y") * F.lit(1000000000)).cast(d38)
                * F.col("x1")
            ).alias("gb"),
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.max("w0").alias("pw0"),
            F.max("w1").alias("pw1"),
        )
        w = g.select(
            F.expr(f"pw0 - ga div ({_GD_ETA_DIV} * n)")
            .cast("long")
            .alias("w0"),
            F.expr(f"pw1 - gb div ({_GD_ETA_DIV} * n)")
            .cast("long")
            .alias("w1"),
        )
    fin = base.crossJoin(F.broadcast(w)).agg(
        F.sum(
            F.when(
                ((F.col("w0") + F.col("w1") * F.col("x1")) > 0)
                == (F.col("y") == 1),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("w0").alias("w0_micro"),
        F.max("w1").alias("w1_micro"),
    )
    return fin.select(
        "w0_micro",
        "w1_micro",
        F.col("n").alias("n_rows"),
        F.expr("n_correct * 1000000 div n").cast("long").alias("acc_ppm"),
    )


_GATE_P = 1000000007
_GATE_MULT = 2654435761 % _GATE_P


def _gate_oracle() -> str:
    gini = (
        "CASE WHEN {n} = 0 THEN CAST(0 AS HUGEINT) ELSE "
        "({n} * {n} - {p} * {p} - ({n} - {p}) * ({n} - {p})) * 1000000 "
        "// ({n} * {n}) END"
    )
    gl = gini.format(n="nl", p="pl")
    gr = gini.format(n="(n - nl)", p="(p - pl)")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT CAST(event_type = 'purchase' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv,
             (((event_id % {_GATE_P}) * {_GATE_MULT}) % {_GATE_P}) % 100
               AS bucket
      FROM events
    ),
    tr AS MATERIALIZED (SELECT y, qv FROM base WHERE bucket < 80),
    te AS MATERIALIZED (SELECT y, qv FROM base WHERE bucket >= 80),
    r AS (SELECT qv, ROW_NUMBER() OVER (ORDER BY qv) AS rn,
                 COUNT(*) OVER () AS nn FROM tr),
    thr AS (
      SELECT k.k, r.qv AS t
      FROM (SELECT unnest(range(1, 10)) AS k) k
      JOIN r ON r.rn = (k.k * (r.nn - 1)) // 10 + 1
    ),
    ev AS (
      SELECT thr.k, thr.t, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN qv <= t THEN 1 ELSE 0 END) AS HUGEINT)
               AS nl,
             CAST(SUM(CASE WHEN qv <= t AND y = 1 THEN 1 ELSE 0 END)
               AS HUGEINT) AS pl,
             CAST(SUM(y) AS HUGEINT) AS p
      FROM tr CROSS JOIN thr GROUP BY thr.k, thr.t
    ),
    g AS (
      SELECT k, t, n, nl, pl, p,
             (nl * ({gl}) + (n - nl) * ({gr})) // n AS wg
      FROM ev
    ),
    best AS (
      SELECT t, nl, pl, n - nl AS nr, p - pl AS pr FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY wg, t, k) AS rnk FROM g) x
      WHERE rnk = 1
    ),
    orient AS (
      SELECT t, CASE WHEN pr * nl > pl * nr THEN 1 ELSE 0 END AS pos_right
      FROM best
    ),
    scored AS MATERIALIZED (
      SELECT te.y,
             CASE WHEN (te.qv > o.t) = (o.pos_right = 1)
                  THEN 1 ELSE 0 END AS pred
      FROM te CROSS JOIN orient o
    ),
    cm AS (
      SELECT
        SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
        SUM(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
        SUM(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn,
        SUM(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS tn
      FROM scored
    )
    SELECT 'featurized' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) * 1000000 // COUNT(*) AS DOUBLE) AS metric
    FROM base
    UNION ALL
    SELECT 'train', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(y) * 1000000 // COUNT(*) AS DOUBLE) FROM tr
    UNION ALL
    SELECT 'stump_trained', CAST(1 AS BIGINT),
           CAST(t AS DOUBLE) / 1000000.0 FROM best
    UNION ALL
    SELECT 'test_scored', CAST(COUNT(*) AS BIGINT),
           CAST((SELECT (tp + tn) * 1000000 // (tp + fp + fn + tn)
                 FROM cm) AS DOUBLE)
    FROM te
    UNION ALL
    SELECT 'gate_f1', CAST(1 AS BIGINT),
           CAST(CASE WHEN 2 * tp + fp + fn > 0
                THEN 2 * tp * 1000000 // (2 * tp + fp + fn)
                ELSE 0 END AS DOUBLE)
    FROM cm
    """


@register(
    "ml_gate_e2e",
    _gate_oracle(),
    doc="flagship #6: the model-quality gate end to end — hash "
    "train/test split → decision stump trained on TRAIN only "
    "(threshold + orientation, no leakage) → held-out confusion "
    "metrics; one (stage, n_rows, metric) funnel row per stage",
)
def ml_gate_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation pipeline a training launch actually runs,
    composed from this round's ML family: deterministic 80/20 hash
    split (``sample_train_split``'s multiplicative hash — test rows
    never touch training), stump training on the train partition
    (``ml_decision_stump``'s exact decile candidates + integer Gini),
    orientation picked by train-side class rates (integer
    cross-multiplication — no division), then held-out accuracy and
    F1 (``ml_confusion_metrics``' integer-ppm forms). The funnel rows
    are the go/no-go table: train balance, chosen boundary, held-out
    quality.

    Leakage discipline is the point: every fitted quantity (threshold,
    orientation) derives from TRAIN rows only; the test partition is
    touched exactly once, by the frozen model.

    Scale: the split is a scan-level predicate (no shuffle); training
    is the stump's broadcast 9-candidate pass over the train subset;
    scoring is one narrow pass over test with a 1-row broadcast
    model. Stage counts are map-side-combined aggregates unioned at
    the end.
    """
    ev = load(spark, "events", sf_dir)
    base = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        _q6(F.col("value")).alias("qv"),
        (
            (F.col("event_id") % F.lit(_GATE_P)) * F.lit(_GATE_MULT)
        ).__mod__(F.lit(_GATE_P)).__mod__(F.lit(100)).alias("bucket"),
    )
    # pinned (registry.pin): each subtree is consumed 2-3 times; pin
    # ties the cached blocks to this builder's LRU entry so eviction
    # unpersists them (raw .persist() here was the round-2 OOM class)
    base = pin(base)
    tr = pin(base.filter(F.col("bucket") < 80).select("y", "qv"))
    te = base.filter(F.col("bucket") >= 80).select("y", "qv")
    thr = with_rank_targets(
        tr.select("qv"), "qv", (), ["((tid + 1) * (nn - 1)) div 10 + 1"] * 9
    ).select(
        (F.col("tid") + 1).cast("long").alias("k"),
        F.col("value").alias("t"),
    )
    d38 = "decimal(38,0)"
    evx = (
        tr.crossJoin(F.broadcast(thr))
        .groupBy("k", "t")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("n"),
            F.sum(F.when(F.col("qv") <= F.col("t"), 1).otherwise(0))
            .cast(d38)
            .alias("nl"),
            F.sum(
                F.when((F.col("qv") <= F.col("t")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast(d38)
            .alias("pl"),
            F.sum("y").cast(d38).alias("p"),
        )
    )
    gini = (
        "CASE WHEN {n} = 0 THEN CAST(0 AS decimal(38,0)) ELSE "
        "({n} * {n} - {p} * {p} - ({n} - {p}) * ({n} - {p})) * 1000000 "
        "div ({n} * {n}) END"
    )
    g = evx.select(
        "k",
        "t",
        "n",
        "nl",
        "pl",
        "p",
        F.expr(
            "(nl * ({gl}) + (n - nl) * ({gr})) div n".format(
                gl=gini.format(n="nl", p="pl"),
                gr=gini.format(n="(n - nl)", p="(p - pl)"),
            )
        ).alias("wg"),
    )
    best = (
        g.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy(one_part("k")).orderBy(
                F.asc("wg"), F.asc("t"), F.asc("k")
            )
            ),
        )
        .filter(F.col("rnk") == 1)
        .select(
            "t",
            "nl",
            "pl",
            (F.col("n") - F.col("nl")).alias("nr"),
            (F.col("p") - F.col("pl")).alias("pr"),
        )
    )
    orient = best.select(
        "t",
        F.when(
            F.col("pr") * F.col("nl") > F.col("pl") * F.col("nr"), 1
        )
        .otherwise(0)
        .alias("pos_right"),
    )
    scored = te.crossJoin(F.broadcast(orient)).select(
        "y",
        F.when(
            (F.col("qv") > F.col("t")) == (F.col("pos_right") == 1), 1
        )
        .otherwise(0)
        .alias("pred"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    cm = scored.agg(
        cnt((F.col("y") == 1) & (F.col("pred") == 1)).alias("tp"),
        cnt((F.col("y") == 0) & (F.col("pred") == 1)).alias("fp"),
        cnt((F.col("y") == 1) & (F.col("pred") == 0)).alias("fn"),
        cnt((F.col("y") == 0) & (F.col("pred") == 0)).alias("tn"),
        # 1-row result consumed twice in the funnel: a lazy local
        # checkpoint materializes it once on first action and truncates
        # the scoring lineage — bounded state at any scale, unlike the
        # round-3 .persist() of the full projected fact table
    ).localCheckpoint(eager=False)

    def row(stage, df, n_col, metric):
        return df.agg(
            F.lit(stage).alias("stage"),
            n_col.alias("n_rows"),
            metric.alias("metric"),
        )

    nc = F.count(F.lit(1)).cast("long")
    pos_ppm = F.expr("sum(y) * 1000000 div count(1)").cast("double")
    out = row("featurized", base, nc, pos_ppm)
    out = out.unionByName(row("train", tr, nc, pos_ppm))
    out = out.unionByName(
        row(
            "stump_trained",
            best,
            F.lit(1).cast("long"),
            (F.max("t").cast("double") / F.lit(1e6)),
        )
    )
    acc = cm.select(
        F.expr("(tp + tn) * 1000000 div (tp + fp + fn + tn)")
        .cast("double")
        .alias("m")
    )
    out = out.unionByName(
        row("test_scored", te.crossJoin(F.broadcast(acc)), nc, F.max("m"))
    )
    out = out.unionByName(
        row(
            "gate_f1",
            cm,
            F.lit(1).cast("long"),
            F.expr(
                "CASE WHEN 2 * max(tp) + max(fp) + max(fn) > 0 "
                "THEN 2 * max(tp) * 1000000 div "
                "(2 * max(tp) + max(fp) + max(fn)) ELSE 0 END"
            ).cast("double"),
        )
    )
    return out


@register(
    "agg_two_prop_ztest",
    """
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events WHERE event_type IN ('click', 'view')
    ),
    c AS (
      SELECT
        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN event_type = 'click' AND qv > 100000000
            THEN 1 ELSE 0 END) AS xa,
        SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb,
        SUM(CASE WHEN event_type = 'view' AND qv > 100000000
            THEN 1 ELSE 0 END) AS xb
      FROM q
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
           CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
           FLOOR((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                 / SQRT((CAST(xa + xb AS DOUBLE) / (na + nb))
                        * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS z_stat
    FROM c
    """,
    doc="two-proportion pooled z-test (click vs view conversion above "
    "the 100-unit value threshold): exact counts, one quantized float "
    "expression — the proportions twin of agg_ab_test's Welch t",
)
def agg_two_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B test for RATES (conversion, CTR): pooled two-proportion
    z-statistic from four exact conditional counts. All structure is
    integer; the z expression is a fixed tree of correctly-rounded
    IEEE ops on those exact integers, floor-quantized at 1e-9 —
    identical bits in both engines. ``agg_ab_test`` covers mean
    differences (Welch); this covers proportions; together they are
    the experiment-readout pair.

    Scale: one conditional aggregate over the filtered scan (predicate
    pushed to parquet), one row out — map-side combined.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_type", _q6(F.col("value")).alias("qv")
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    c = q.agg(
        cnt(F.col("event_type") == "click").alias("na"),
        cnt(
            (F.col("event_type") == "click") & (F.col("qv") > 100000000)
        ).alias("xa"),
        cnt(F.col("event_type") == "view").alias("nb"),
        cnt(
            (F.col("event_type") == "view") & (F.col("qv") > 100000000)
        ).alias("xb"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    pool = (d("xa") + d("xb")) / (d("na") + d("nb"))
    z = (d("xa") / d("na") - d("xb") / d("nb")) / F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / d("na") + F.lit(1.0) / d("nb"))
    )
    return c.select(
        F.col("na").alias("n_a"),
        F.col("xa").alias("x_a"),
        F.col("nb").alias("n_b"),
        F.col("xb").alias("x_b"),
        (F.floor(z * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)).alias("z_stat"),
    )


@register(
    "ml_gmm_em_step",
    """
    WITH q AS (
      SELECT CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS x,
             event_id
      FROM events
    ),
    r AS (
      SELECT x,
             ROW_NUMBER() OVER (ORDER BY x, event_id) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    init AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(0.25 * nn) AS BIGINT)
                 THEN x END) AS mu1,
             MAX(CASE WHEN rn = CAST(CEIL(0.75 * nn) AS BIGINT)
                 THEN x END) AS mu2,
             MAX(nn) AS n
      FROM r
    ),
    prep AS (
      SELECT mu1, mu2, n,
             GREATEST(mu2 - mu1, 1) AS sig
      FROM init
    ),
    e AS (
      SELECT q.x, p.mu1, p.mu2, p.n, p.sig,
             CAST(FLOOR(exp(-((CAST(q.x - p.mu1 AS DOUBLE) / p.sig)
                  * (CAST(q.x - p.mu1 AS DOUBLE) / p.sig)) / 2.0)
                  * 1000000000.0 + 0.5) AS BIGINT) AS f1,
             CAST(FLOOR(exp(-((CAST(q.x - p.mu2 AS DOUBLE) / p.sig)
                  * (CAST(q.x - p.mu2 AS DOUBLE) / p.sig)) / 2.0)
                  * 1000000000.0 + 0.5) AS BIGINT) AS f2
      FROM q CROSS JOIN prep p
    ),
    resp AS (
      SELECT x, mu1, mu2, n,
             CASE WHEN f1 + f2 = 0 THEN CAST(500000000 AS BIGINT)
                  ELSE CAST(FLOOR(CAST(f1 AS DOUBLE) / (f1 + f2)
                       * 1000000000.0 + 0.5) AS BIGINT) END AS r1
      FROM e
    ),
    m AS (
      SELECT MAX(mu1) AS mu1_0, MAX(mu2) AS mu2_0, MAX(n) AS n,
             SUM(CAST(r1 AS HUGEINT)) AS s1,
             SUM(CAST(r1 AS HUGEINT) * x) AS sx1,
             SUM(CAST(1000000000 - r1 AS HUGEINT)) AS s2,
             SUM(CAST(1000000000 - r1 AS HUGEINT) * x) AS sx2
      FROM resp
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(mu1_0 AS DOUBLE) / 1000000.0 AS mu1_init,
           CAST(mu2_0 AS DOUBLE) / 1000000.0 AS mu2_init,
           FLOOR(CAST(CAST(sx1 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mu1_new,
           FLOOR(CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mu2_new,
           FLOOR(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 1000000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS w1_new
    FROM m
    """,
    doc="one EM step of a 2-component Gaussian mixture on the value "
    "column (quartile init, shared scale): per-row responsibilities "
    "quantized at 1e-9, HUGEINT-weighted M-step — completing the "
    "optimization-paradigm trio (closed form, gradient descent, EM)",
)
def ml_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-Maximization as one declarative pass: initialize
    two component means at the exact p25/p75 rank picks (shared scale
    = the IQR, floored at one quantum), E-step computes each row's
    component-1 responsibility — both Gaussian kernels floor-quantized
    at 1e-9 BEFORE the ratio, the ratio itself re-quantized — and the
    M-step re-estimates means and mixture weight from
    responsibility-weighted HUGEINT/DECIMAL sums. Every cross-row
    reduction is integer arithmetic, so the EM trajectory is
    bit-stable (the ``ml_logreg_gd`` property, for the
    latent-variable paradigm). Iterating = repeating the same block
    with checkpointing, exactly like the GD loop.

    Scale: one corpus scan for the rank init (approx-quantile at
    100 TB), one scan for E+M fused (the responsibilities never
    materialize — Catalyst pipelines them into the aggregate), 1-row
    state. The classic EM-on-MapReduce shape.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        _q6(F.col("value")).alias("x"), "event_id"
    )
    picks = with_rank_targets(
        q,
        "x",
        ("event_id",),
        [
            "cast(ceil(0.25 * nn) as bigint)",
            "cast(ceil(0.75 * nn) as bigint)",
        ],
    )
    init = picks.agg(
        F.max(F.when(F.col("tid") == 0, F.col("value"))).alias("mu1"),
        F.max(F.when(F.col("tid") == 1, F.col("value"))).alias("mu2"),
        F.max("nn").alias("n"),
    )
    prep = init.select(
        "mu1",
        "mu2",
        "n",
        F.greatest(F.col("mu2") - F.col("mu1"), F.lit(1)).alias("sig"),
    )
    z1 = (F.col("x") - F.col("mu1")).cast("double") / F.col("sig")
    z2 = (F.col("x") - F.col("mu2")).cast("double") / F.col("sig")
    e = q.crossJoin(F.broadcast(prep)).select(
        "x",
        "mu1",
        "mu2",
        "n",
        _q9(F.exp(-(z1 * z1) / F.lit(2.0))).alias("f1"),
        _q9(F.exp(-(z2 * z2) / F.lit(2.0))).alias("f2"),
    )
    resp = e.select(
        "x",
        "mu1",
        "mu2",
        "n",
        F.when(
            F.col("f1") + F.col("f2") == 0, F.lit(500000000).cast("long")
        )
        .otherwise(
            F.floor(
                F.col("f1").cast("double")
                / (F.col("f1") + F.col("f2"))
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("r1"),
    )
    d38 = "decimal(38,0)"
    m = resp.agg(
        F.max("mu1").alias("mu1_0"),
        F.max("mu2").alias("mu2_0"),
        F.max("n").alias("n"),
        F.sum(F.col("r1").cast(d38)).alias("s1"),
        F.sum(F.col("r1").cast(d38) * F.col("x")).alias("sx1"),
        F.sum((F.lit(1000000000) - F.col("r1")).cast(d38)).alias("s2"),
        F.sum(
            (F.lit(1000000000) - F.col("r1")).cast(d38) * F.col("x")
        ).alias("sx2"),
    )
    q6o = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        (F.col("mu1_0").cast("double") / F.lit(1e6)).alias("mu1_init"),
        (F.col("mu2_0").cast("double") / F.lit(1e6)).alias("mu2_init"),
        q6o(dec_to_double("sx1") / dec_to_double("s1") / F.lit(1e6)).alias("mu1_new"),
        q6o(dec_to_double("sx2") / dec_to_double("s2") / F.lit(1e6)).alias("mu2_new"),
        q6o(dec_to_double("s1") / (F.col("n").cast("double") * F.lit(1e9))).alias(
            "w1_new"
        ),
    )


@register(
    "agg_qq_deciles",
    """
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events WHERE event_type IN ('click', 'error')
    ),
    r AS (
      SELECT event_type, qv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY qv)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nn
      FROM q
    ),
    dec AS (
      SELECT k.k,
             MAX(CASE WHEN event_type = 'click' THEN qv END) AS qa,
             MAX(CASE WHEN event_type = 'error' THEN qv END) AS qb
      FROM r JOIN (SELECT unnest(range(1, 10)) AS k) k
        ON r.rn = (k.k * (r.nn - 1)) // 10 + 1
      GROUP BY k.k
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(qa AS DOUBLE) / 1000000.0 AS q_click,
           CAST(qb AS DOUBLE) / 1000000.0 AS q_error,
           CAST(qa - qb AS BIGINT) AS diff_micro
    FROM dec
    """,
    doc="Q-Q decile table (click vs error value distributions): "
    "exact rank-picked deciles of both samples side by side — the "
    "distribution-shape comparison behind the KS statistic's single "
    "number",
)
def agg_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-quantile table: paired exact deciles of two
    samples. Where ``agg_ks_test`` reports the one worst gap, the Q-Q
    table shows WHERE the distributions diverge (location shift =
    constant offset, scale difference = growing offset, tail
    difference = divergence only at k=1 or 9). Element-picking
    discipline throughout — every decile is an actual observed value,
    integer-exact.

    Scale: one rank window per sample sharing the type-key exchange;
    the 9-rank pick joins a broadcast 9-row table. O(1) output.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.filter(F.col("event_type").isin("click", "error")).select(
        "event_type", _q6(F.col("value")).alias("qv")
    )
    r = q.select(
        "event_type",
        "qv",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("qv"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("nn"),
    )
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    dec = (
        r.join(F.broadcast(ks), F.expr("rn = (k * (nn - 1)) div 10 + 1"))
        .groupBy("k")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", F.col("qv"))
            ).alias("qa"),
            F.max(
                F.when(F.col("event_type") == "error", F.col("qv"))
            ).alias("qb"),
        )
    )
    return dec.select(
        F.col("k").cast("long").alias("k"),
        (F.col("qa").cast("double") / F.lit(1e6)).alias("q_click"),
        (F.col("qb").cast("double") / F.lit(1e6)).alias("q_error"),
        (F.col("qa") - F.col("qb")).cast("long").alias("diff_micro"),
    )


@register(
    "agg_t_test_paired",
    f"""
    WITH hourly AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
             CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(c.sq AS HUGEINT) - p.sq AS d
      FROM hourly c JOIN hourly p ON p.h = c.h - 24
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(d) AS s1, SUM(d * d) AS s2
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           FLOOR(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_diff,
           CASE WHEN n > 1 AND (n * s2 - s1 * s1) > 0 THEN
             FLOOR(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                   / SQRT(CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)
                          / CAST(CAST(n - 1 AS VARCHAR) AS DOUBLE))
                   * 1000000000.0 + 0.5) / 1000000000.0
           END AS t_stat
    FROM m
    """,
    doc="paired t-test on day-over-day hourly value deltas: exact "
    "HUGEINT difference moments, t = Σd/√(n·Σd²−(Σd)²)/(n−1)) — "
    "completes the experiment-readout trio (Welch, proportions z, "
    "paired t)",
)
def agg_t_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paired design — each hour compared to the SAME hour
    yesterday — removes the daily-cycle variance that would swamp an
    unpaired test, which is why before/after product changes are read
    this way. Differences are exact integers; mean and t derive from
    the cancellation-free moment forms; t's denominator uses the
    simplified identity t = Σd / √((n·Σd² − (Σd)²)/(n−1)) so only two
    quantized float expressions exist in the whole plan.

    Scale: the hourly rollup is one map-side-combined aggregate; the
    lag-24 pairing is a self-join of that small series; the moment
    pass is a 1-row aggregate.
    """
    ev = load(spark, "events", sf_dir)
    hourly = (
        ev.select(
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            _q6(F.col("value")).alias("qv"),
        )
        .groupBy("h")
        .agg(F.sum("qv").cast("long").alias("sq"))
    )
    d38 = "decimal(38,0)"
    cur = hourly.select("h", F.col("sq").cast(d38).alias("sqc"))
    prev = hourly.select(
        (F.col("h") + 24).alias("h"), F.col("sq").cast(d38).alias("sqp")
    )
    pairs = cur.join(prev, "h").select(
        (F.col("sqc") - F.col("sqp")).alias("d")
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * F.col("d")).alias("s2"),
    )
    var_num = m.n * m.s2 - m.s1 * m.s1
    t = F.when(
        (m.n > 1) & (var_num > 0),
        F.floor(
            dec_to_double(m.s1)
            / F.sqrt(var_num.cast("string").cast("double") / dec_to_double(m.n - 1))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        / F.lit(1e9),
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        (
            F.floor(
                dec_to_double(m.s1) / dec_to_double(m.n) / F.lit(1e6) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mean_diff"),
        t.alias("t_stat"),
    )


@register(
    "ml_shap_global",
    """
    WITH q AS (
      SELECT CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS HUGEINT)
               AS x1,
             CAST(isodow(CAST(ts AS TIMESTAMP)) AS HUGEINT) AS x2,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT) AS yq
      FROM events
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(yq) AS sy,
             SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
             SUM(x1 * x2) AS s12,
             SUM(x1 * yq) AS s1y, SUM(x2 * yq) AS s2y
      FROM q
    ),
    c AS (
      SELECT n, sx1, sx2,
             n * s11 - sx1 * sx1 AS c11,
             n * s22 - sx2 * sx2 AS c22,
             n * s12 - sx1 * sx2 AS c12,
             n * s1y - sx1 * sy AS c1y,
             n * s2y - sx2 * sy AS c2y
      FROM m
    ),
    b AS (
      SELECT n, sx1, sx2,
             CAST(FLOOR(CAST(CAST(c1y * c22 - c2y * c12 AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(c11 * c22 - c12 * c12 AS VARCHAR) AS DOUBLE)
                  / 1000000.0 * 1000000000.0 + 0.5) AS HUGEINT) AS pb1,
             CAST(FLOOR(CAST(CAST(c2y * c11 - c1y * c12 AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(c11 * c22 - c12 * c12 AS VARCHAR) AS DOUBLE)
                  / 1000000.0 * 1000000000.0 + 0.5) AS HUGEINT) AS pb2
      FROM c
    ),
    phi AS (
      SELECT b.n,
             SUM(abs(b.pb1 * (b.n * q.x1 - b.sx1))) AS a1,
             SUM(abs(b.pb2 * (b.n * q.x2 - b.sx2))) AS a2
      FROM q CROSS JOIN b GROUP BY b.n
    )
    SELECT f.feature,
           FLOOR(CAST(CAST(CASE f.feature WHEN 'hour' THEN a1 ELSE a2 END
                 AS VARCHAR) AS DOUBLE)
                 / (1000000000.0 * CAST(CAST(n * n AS VARCHAR) AS DOUBLE))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS mean_abs_shap,
           CAST(CASE f.feature WHEN 'hour' THEN a1 ELSE a2 END
                * 1000000 // (a1 + a2) AS BIGINT) AS importance_ppm
    FROM phi CROSS JOIN
         (SELECT unnest(['hour', 'isodow']) AS feature) f
    """,
    doc="global SHAP feature importance for the closed-form linear "
    "model: exact per-row |b_j·(x_j − x̄_j)| attributions (integer "
    "n-scaled, quantized slopes) aggregated to mean |SHAP| and "
    "importance shares — model explainability as one plan",
)
def ml_shap_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainability for the in-engine model: for a linear model the
    Shapley value of feature j on row i is EXACTLY b_j·(x_ij − E[x_j])
    — no sampling needed. The plan refits ``ml_linreg_normal``'s
    slopes (same exact moments, quantized to an INTEGER 1e-9 grid) and
    aggregates |φ| with everything n-scaled so the per-row attribution
    is a pure integer product: |pb_j·(n·x_ij − Σx_j)|. One final
    division per output row. Importance shares are integer-ppm of the
    absolute-attribution masses — the feature-ranking a model card
    prints.

    Scale: two corpus passes (moment fit, attribution sweep) with a
    1-row broadcast model between them — the GD/EM state-broadcast
    shape; outputs are O(features).
    """
    ev = load(spark, "events", sf_dir)
    d38 = "decimal(38,0)"
    q = ev.select(
        F.hour("ts").cast(d38).alias("x1"),
        F.expr("weekday(ts) + 1").cast(d38).alias("x2"),
        _q6(F.col("value")).cast(d38).alias("yq"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("yq")).alias("s1y"),
        F.sum(F.col("x2") * F.col("yq")).alias("s2y"),
    )
    c = m.select(
        "n",
        "sx1",
        "sx2",
        (F.col("n") * F.col("s11") - F.col("sx1") * F.col("sx1")).alias("c11"),
        (F.col("n") * F.col("s22") - F.col("sx2") * F.col("sx2")).alias("c22"),
        (F.col("n") * F.col("s12") - F.col("sx1") * F.col("sx2")).alias("c12"),
        (F.col("n") * F.col("s1y") - F.col("sx1") * F.col("sy")).alias("c1y"),
        (F.col("n") * F.col("s2y") - F.col("sx2") * F.col("sy")).alias("c2y"),
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    pb = lambda num: F.floor(  # noqa: E731
        dec_to_double(num) / dec_to_double(det) / F.lit(1e6) * F.lit(1e9) + F.lit(0.5)
    ).cast(d38)
    b = c.select(
        "n",
        "sx1",
        "sx2",
        pb(F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")).alias(
            "pb1"
        ),
        pb(F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")).alias(
            "pb2"
        ),
    )
    phi = q.crossJoin(F.broadcast(b)).groupBy("n").agg(
        F.sum(
            F.abs(F.col("pb1") * (F.col("n") * F.col("x1") - F.col("sx1")))
        ).alias("a1"),
        F.sum(
            F.abs(F.col("pb2") * (F.col("n") * F.col("x2") - F.col("sx2")))
        ).alias("a2"),
    )
    feats = spark.range(0, 2).select(
        F.when(F.col("id") == 0, "hour").otherwise("isodow").alias("feature")
    )
    out = phi.crossJoin(F.broadcast(feats)).select(
        "feature",
        "n",
        "a1",
        "a2",
        F.when(F.col("feature") == "hour", F.col("a1"))
        .otherwise(F.col("a2"))
        .alias("aj"),
    )
    return out.select(
        "feature",
        (
            F.floor(
                F.col("aj").cast("string").cast("double")
                / (
                    F.lit(1e9)
                    * (F.col("n") * F.col("n")).cast("string").cast("double")
                )
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("mean_abs_shap"),
        F.expr("aj * 1000000 div (a1 + a2)")
        .cast("long")
        .alias("importance_ppm"),
    )


@register(
    "agg_bayes_beta_posterior",
    """
    WITH a AS (
      SELECT user_id % 2 AS variant,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS x
      FROM a GROUP BY variant
    )
    SELECT CAST(variant AS BIGINT) AS variant, n, x,
           CAST((x + 1) * 1000000 // (n + 2) AS BIGINT)
             AS post_mean_ppm,
           FLOOR(SQRT(CAST((x + 1) AS DOUBLE) * (n - x + 1)
                      / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3)))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS post_std,
           FLOOR((CAST(x + 1 AS DOUBLE) / (n + 2)
                  - 2.0 * SQRT(CAST((x + 1) AS DOUBLE) * (n - x + 1)
                      / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3))))
                 * 1000000.0 + 0.5) / 1000000.0 AS credible_lo,
           FLOOR((CAST(x + 1 AS DOUBLE) / (n + 2)
                  + 2.0 * SQRT(CAST((x + 1) AS DOUBLE) * (n - x + 1)
                      / (CAST(n + 2 AS DOUBLE) * (n + 2) * (n + 3))))
                 * 1000000.0 + 0.5) / 1000000.0 AS credible_hi
    FROM c
    """,
    doc="Bayesian A/B readout: per-variant Beta(1,1) posterior over "
    "user conversion (mean, std, ±2σ credible band) from exact "
    "conversion counts — the always-valid peeking-safe experiment "
    "summary beside the frequentist z/t tests",
)
def agg_bayes_beta_posterior(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Bayesian experiment summary: users hash into two variants
    (deterministic user_id parity), per-user conversion = any
    purchase, and each variant's rate gets the Beta(1+x, 1+n−x)
    posterior — mean (x+1)/(n+2) as an integer-ppm division, std and
    a ±2σ credible band as fixed float expressions over exact counts
    (Beta variance ab/((a+b)²(a+b+1))), floor-quantized. Overlapping
    bands = keep collecting; separated bands = ship. Unlike p-values
    the posterior is valid under continuous monitoring.

    Scale: one per-user conversion rollup (map-side combined), one
    2-key aggregate, O(1) output.
    """
    ev = load(spark, "events", sf_dir)
    a = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    c = a.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    var = (
        (F.col("x") + 1).cast("double")
        * (F.col("n") - F.col("x") + 1)
        / (
            (F.col("n") + 2).cast("double")
            * (F.col("n") + 2)
            * (F.col("n") + 3)
        )
    )
    mean = (F.col("x") + 1).cast("double") / (F.col("n") + 2)
    q9 = lambda col: F.floor(col * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)  # noqa: E731
    return c.select(
        F.col("variant").cast("long").alias("variant"),
        "n",
        "x",
        F.expr("(x + 1) * 1000000 div (n + 2)")
        .cast("long")
        .alias("post_mean_ppm"),
        q9(F.sqrt(var)).alias("post_std"),
        dround(mean - F.lit(2.0) * F.sqrt(var)).alias("credible_lo"),
        dround(mean + F.lit(2.0) * F.sqrt(var)).alias("credible_hi"),
    )


@register(
    "agg_ab_srm_check",
    """
    WITH a AS (
      SELECT user_id % 2 AS variant, COUNT(*) AS n_events
      FROM events GROUP BY user_id % 2
    ),
    c AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN n_events END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN variant = 1 THEN n_events END) AS BIGINT)
               AS n_b
      FROM a
    )
    SELECT n_a, n_b,
           FLOOR(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b)
                 * 1000000.0 + 0.5) / 1000000.0 AS chi2,
           COALESCE(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b)
                    / (n_a + n_b) > 3.841, FALSE) AS srm_detected
    FROM c
    """,
    doc="sample-ratio-mismatch guard for the 50/50 assignment: "
    "one-df chi-square of variant traffic vs expected split with the "
    "3.84 (p<0.05) verdict pinned — the experiment-trustworthiness "
    "check that must PASS before any A/B readout is believed",
)
def agg_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most important A/B test is the one on the assignment
    itself: if variant traffic deviates from the designed 50/50 split
    beyond chance (SRM), every downstream metric is biased by whatever
    broke the assignment (bots filtered one-sided, redirect loss,
    logging gaps) — the readouts (``agg_ab_test``,
    ``agg_two_prop_ztest``, ``agg_bayes_beta_posterior``) are invalid.
    χ² = (n_a−n_b)²/(n_a+n_b) for a 50/50 design; the flag compares
    against the 1-df 95% critical value as a fixed float expression
    over exact counts (COALESCE'd boolean).

    Scale: one map-side-combined 2-key count — the cheapest query in
    the registry guarding the most expensive decisions.
    """
    ev = load(spark, "events", sf_dir)
    a = ev.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    c = a.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n_events")))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("n_events")))
        .cast("long")
        .alias("n_b"),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b")).cast("double")
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return c.select(
        "n_a",
        "n_b",
        (F.floor(chi2 * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("chi2"),
        F.coalesce(chi2 > F.lit(3.841), F.lit(False)).alias("srm_detected"),
    )


@register(
    "ml_gains_lift",
    """
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS score,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    r AS (
      SELECT converted,
             ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rn,
             COUNT(*) OVER () AS nn,
             SUM(converted) OVER () AS np
      FROM u
    ),
    d AS (
      SELECT (rn - 1) * 10 // nn + 1 AS decile, converted, nn, np
      FROM r
    ),
    g AS (
      SELECT decile, MAX(nn) AS nn, MAX(np) AS np,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM d GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_users, n_converted,
           CAST(n_converted * 1000000 // n_users AS BIGINT)
             AS conv_rate_ppm,
           CAST(SUM(n_converted) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) * 1000000 // np AS BIGINT)
             AS cum_gain_ppm,
           CAST((n_converted * nn) * 1000 // (n_users * np) AS BIGINT)
             AS lift_permille
    FROM g
    """,
    doc="gains/lift table: users ranked by engagement score into "
    "deciles, per-decile conversion rate, cumulative gains curve and "
    "lift vs the base rate (integer ppm/permille) — the targeting-"
    "model readout behind every campaign-sizing decision",
)
def ml_gains_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gains chart: if the model (here: the engagement-value
    score) ranks users and the campaign contacts only the top k
    deciles, what share of all converters is captured
    (cumulative gains) and how much better than random is each slice
    (lift)? Decile 1 lift ≫ 1000‰ means the score concentrates
    converters up front; lift ≈ 1000‰ everywhere means the score is
    useless. All ratios are integer divisions of exact counts on a
    deterministic total order (score desc, user_id).

    Scale: one per-user rollup (map-side combined), a rank over the
    users table (≪ events; range-partitioned at scale), a 10-key
    aggregate and a 10-row cumulative window.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum(_q6(F.col("value"))).cast("long").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("converted"),
    )
    totals = u.agg(F.sum("converted").alias("np"))
    r = (
        with_total_rank(u, "score", ("user_id",), nn="nn", descending=True)
        .crossJoin(F.broadcast(totals))
        .select("converted", "rn", "nn", "np")
    )
    d = r.select(
        F.expr("(cast(rn as bigint) - 1) * 10 div nn + 1").alias("decile"),
        "converted",
        "nn",
        "np",
    )
    g = d.groupBy("decile").agg(
        F.max("nn").alias("nn"),
        F.max("np").alias("np"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    cum = Window.partitionBy(one_part("decile")).orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        "n_users",
        "n_converted",
        F.expr("n_converted * 1000000 div n_users")
        .cast("long")
        .alias("conv_rate_ppm"),
        (
            F.sum("n_converted").over(cum) * F.lit(1000000)
        ).cast("long").alias("_cg"),
        F.expr("(n_converted * nn) * 1000 div (n_users * np)")
        .cast("long")
        .alias("lift_permille"),
        F.col("np").alias("_np"),
    ).select(
        "decile",
        "n_users",
        "n_converted",
        "conv_rate_ppm",
        F.expr("_cg div _np").cast("long").alias("cum_gain_ppm"),
        "lift_permille",
    )


@register(
    "ml_expected_calibration_error",
    """
    WITH q AS (
      SELECT event_id,
             CAST(event_type = 'purchase' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    r AS (
      SELECT y,
             ROW_NUMBER() OVER (ORDER BY qv, event_id) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    s AS (
      SELECT y,
             (rn - 1) * 10 // nn + 1 AS bin,
             (rn - 1) * 1000000 // (nn - 1) AS score_ppm,
             nn
      FROM r
    ),
    b AS (
      SELECT bin, MAX(nn) AS nn,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS conf_ppm,
             CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
      FROM s GROUP BY bin
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n * abs(conf_ppm - acc_ppm)) // MAX(nn) AS BIGINT)
             AS ece_ppm,
           CAST(MAX(abs(conf_ppm - acc_ppm)) AS BIGINT) AS mce_ppm
    FROM b
    """,
    doc="expected + maximum calibration error over the reliability "
    "deciles (integer ppm): the weighted |confidence − accuracy| gap "
    "ml_calibration_bins tabulates, collapsed to the two scalars a "
    "model gate thresholds on",
)
def ml_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ECE — the calibration scalar: Σ (n_b/n)·|conf_b − acc_b| over
    the same rank-score decile bins as ``ml_calibration_bins``, plus
    MCE (the worst bin). A model can have great AUC and terrible ECE
    (systematic over-confidence); gates that consume probabilities
    (expected-value ranking, abstention thresholds) must check BOTH.
    Everything is exact integer arithmetic — per-bin gaps are integer
    differences of integer-ppm means, the weighting is one more
    integer product/division.

    Scale: identical to the bins op — one rank pass + a 10-key
    aggregate + a 1-row reduction.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        _q6(F.col("value")).alias("qv"),
    )
    r = with_total_rank(
        q, "qv", ("event_id",), nn="nn"
    ).select("y", "rn", "nn")
    s = r.select(
        "y",
        F.expr("(cast(rn as bigint) - 1) * 10 div nn + 1").alias("bin"),
        F.expr("(cast(rn as bigint) - 1) * 1000000 div (nn - 1)").alias(
            "score_ppm"
        ),
        "nn",
    )
    b = s.groupBy("bin").agg(
        F.max("nn").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(score_ppm) div count(1)").cast("long").alias("conf_ppm"),
        F.expr("sum(y) * 1000000 div count(1)").cast("long").alias("acc_ppm"),
    )
    return b.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr("sum(n * abs(conf_ppm - acc_ppm)) div max(nn)")
        .cast("long")
        .alias("ece_ppm"),
        F.max(F.abs(F.col("conf_ppm") - F.col("acc_ppm")))
        .cast("long")
        .alias("mce_ppm"),
    )


_CUPED_SPLIT_D = 15  # pre-period length in days from corpus start


@register(
    "agg_cuped",
    f"""
    WITH b AS (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0
               FROM events),
    u AS (
      SELECT e.user_id,
             SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                  < b.t0 + {_CUPED_SPLIT_D} * 86400000000
                 THEN CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS pre,
             SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                  >= b.t0 + {_CUPED_SPLIT_D} * 86400000000
                 THEN CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS post
      FROM events e CROSS JOIN b GROUP BY e.user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(pre AS HUGEINT)) AS sx,
             SUM(CAST(post AS HUGEINT)) AS sy,
             SUM(CAST(pre AS HUGEINT) * pre) AS sxx,
             SUM(CAST(post AS HUGEINT) * post) AS syy,
             SUM(CAST(pre AS HUGEINT) * post) AS sxy
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           FLOOR(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                 * 1000000000.0 + 0.5) / 1000000000.0 AS theta,
           FLOOR((1.0 -
                  (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE))
                  / (CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS var_ratio
    FROM m
    """,
    doc="CUPED variance reduction: optimal theta = cov(pre, post)/"
    "var(pre) from exact HUGEINT moments and the residual variance "
    "ratio 1 − ρ² — how much experiment sample the pre-period "
    "covariate buys back (0.8 ⇒ 20% fewer users for the same power)",
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED — the variance-reduction technique every mature
    experimentation platform applies: regress each user's experiment
    metric on their PRE-experiment behavior and analyze the residual
    (Y − θ·X). The optimal θ is cov/var of exact integer per-user
    sums; the remaining-variance ratio is 1 − ρ² (exact-moment
    correlation squared). A ratio of 0.7 means 30% fewer users reach
    the same statistical power — pre-period data is free sample size.
    Splitting pre/post by an in-plan corpus-start scalar keeps the
    builder lazy (no driver-side min).

    Scale: one conditional per-user rollup (map-side combined), one
    1-row moment aggregate — the ml_linreg moment discipline on the
    experimentation problem.
    """
    ev = load(spark, "events", sf_dir)
    b = ev.agg(F.min(F.unix_micros("ts")).alias("t0"))
    cut = F.col("t0") + F.lit(_CUPED_SPLIT_D * 86400000000)
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.unix_micros("ts") < cut, _q6(F.col("value"))
                ).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(
                    F.unix_micros("ts") >= cut, _q6(F.col("value"))
                ).otherwise(0)
            ).alias("post"),
        )
    )
    d38 = "decimal(38,0)"
    m = u.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("pre").cast(d38)).alias("sx"),
        F.sum(F.col("post").cast(d38)).alias("sy"),
        F.sum(F.col("pre").cast(d38) * F.col("pre")).alias("sxx"),
        F.sum(F.col("post").cast(d38) * F.col("post")).alias("syy"),
        F.sum(F.col("pre").cast(d38) * F.col("post")).alias("sxy"),
    )
    cov = m.n * m.sxy - m.sx * m.sy
    varx = m.n * m.sxx - m.sx * m.sx
    vary = m.n * m.syy - m.sy * m.sy
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        (
            F.floor(dec_to_double(cov) / dec_to_double(varx) * F.lit(1e9) + F.lit(0.5))
            / F.lit(1e9)
        ).alias("theta"),
        (
            F.floor(
                (
                    F.lit(1.0)
                    - (dec_to_double(cov) * dec_to_double(cov))
                    / (dec_to_double(varx) * dec_to_double(vary))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("var_ratio"),
    )


@register(
    "agg_ab_power_mde",
    """
    WITH u AS (
      SELECT user_id % 2 AS variant,
             CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS m
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(m AS HUGEINT)) AS s1,
             SUM(CAST(m AS HUGEINT) * m) AS s2
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           FLOOR(CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_metric,
           FLOOR(SQRT(CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE))
                 / CAST(CAST(n AS VARCHAR) AS DOUBLE) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS std_metric,
           FLOOR(2.801585 * SQRT(2.0
                  * (CAST(CAST(n * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)
                     / (CAST(CAST(n AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(n AS VARCHAR) AS DOUBLE)))
                  / (CAST(CAST(n AS VARCHAR) AS DOUBLE) / 2.0))
                 / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
             AS mde_abs
    FROM s
    """,
    doc="experiment power planning: minimum detectable effect at "
    "80% power / 5% two-sided alpha ((z_α/2+z_β)·√(2σ²/n_arm)) from "
    "exact per-user metric moments — the 'is this test even worth "
    "running' number computed BEFORE assignment",
)
def agg_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis from the engine: with the observed metric
    variance and the available per-arm sample size, the smallest true
    effect the standard test would detect at 80% power is
    (1.96 + 0.8416)·√(2σ²/n_arm) — baked as the exact literal
    2.801585·√(2σ²/n_arm). If the MDE exceeds any plausible effect,
    the experiment is theater; run CUPED (``agg_cuped``) or collect
    longer. Variance is the cancellation-free integer-moment form;
    the whole output is three quantized float expressions over exact
    sums.

    Scale: one per-user rollup + a 1-row moment aggregate — the
    cheapest pre-experiment sanity check there is.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum(_q6(F.col("value"))).cast("long").alias("m")
    )
    d38 = "decimal(38,0)"
    s = u.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("m").cast(d38)).alias("s1"),
        F.sum(F.col("m").cast(d38) * F.col("m")).alias("s2"),
    )
    q6o = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    var_num = s.n * s.s2 - s.s1 * s.s1
    var_per_user = dec_to_double(var_num) / (dec_to_double(s.n) * dec_to_double(s.n))
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        q6o(dec_to_double("s1") / dec_to_double("n") / F.lit(1e6)).alias("mean_metric"),
        q6o(F.sqrt(dec_to_double(var_num)) / dec_to_double("n") / F.lit(1e6)).alias(
            "std_metric"
        ),
        q6o(
            F.lit(2.801585)
            * F.sqrt(F.lit(2.0) * var_per_user / (dec_to_double("n") / F.lit(2.0)))
            / F.lit(1e6)
        ).alias("mde_abs"),
    )


# ---------- k-fold cross-validation by count subtraction ----------

_CV_K = 5
_CV_FOLD = f"((doc_id % {_GATE_P}) * {_GATE_MULT}) % {_GATE_P} % {_CV_K}"


@register(
    "ml_kfold_nb_cv",
    f"""
    WITH toks AS (
      SELECT doc_id, {_CV_FOLD} AS fold, lang AS lang_true, tok FROM (
        SELECT doc_id, lang,
               unnest(string_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents) t
      WHERE tok <> ''
    ),
    dfold AS (SELECT doc_id, {_CV_FOLD} AS fold, lang FROM documents),
    folds AS (SELECT unnest(range(0, {_CV_K})) AS fold),
    d_g AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
    d_f AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS df
            FROM dfold GROUP BY fold),
    dl_g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS dl
             FROM documents GROUP BY lang),
    dl_f AS (SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS dlf
             FROM dfold GROUP BY fold, lang),
    tl_g AS (SELECT lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS tl
             FROM toks GROUP BY 1),
    tl_f AS (SELECT fold, lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS tlf
             FROM toks GROUP BY 1, 2),
    c_g AS (SELECT lang_true AS lang, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
    c_f AS (SELECT fold, lang_true AS lang, tok,
            CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY 1, 2, 3),
    tokt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tc
             FROM toks GROUP BY tok),
    tokf AS (SELECT fold, tok, CAST(COUNT(*) AS BIGINT) AS tcf
             FROM toks GROUP BY fold, tok),
    v_g AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM tokt),
    -- tokens whose EVERY occurrence sits in fold f vanish from f's
    -- training vocabulary
    x_f AS (SELECT tf.fold, CAST(COUNT(*) AS BIGINT) AS xf
            FROM tokf tf JOIN tokt tt ON tt.tok = tf.tok
            WHERE tf.tcf = tt.tc GROUP BY tf.fold),
    v_tr AS (SELECT f.fold, vg.v - COALESCE(x.xf, 0) AS vtr
             FROM folds f CROSS JOIN v_g vg
             LEFT JOIN x_f x ON x.fold = f.fold),
    langs_f AS (
      SELECT f.fold, lg.lang,
             lg.tl - COALESCE(tf.tlf, 0) AS tltr,
             vt.vtr,
             CAST(FLOOR(ln(CAST(lg2.dl - COALESCE(df2.dlf, 0) AS DOUBLE)
                  / CAST(dg.d - dff.df AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS prior,
             CAST(FLOOR(ln(1.0 / CAST(lg.tl - COALESCE(tf.tlf, 0) + vt.vtr
                  AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS w0
      FROM folds f
      CROSS JOIN tl_g lg
      JOIN dl_g lg2 ON lg2.lang = lg.lang
      LEFT JOIN tl_f tf ON tf.fold = f.fold AND tf.lang = lg.lang
      LEFT JOIN dl_f df2 ON df2.fold = f.fold AND df2.lang = lg.lang
      JOIN v_tr vt ON vt.fold = f.fold
      CROSS JOIN d_g dg
      JOIN d_f dff ON dff.fold = f.fold
      WHERE lg2.dl - COALESCE(df2.dlf, 0) > 0
        AND lg.tl - COALESCE(tf.tlf, 0) + vt.vtr > 0
    ),
    model_f AS (
      SELECT f.fold, cg.lang, cg.tok,
             CAST(FLOOR(ln(CAST(cg.c - COALESCE(cf.cf, 0) + 1 AS DOUBLE)
                  / CAST(lf.tltr + lf.vtr AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w
      FROM folds f CROSS JOIN c_g cg
      LEFT JOIN c_f cf ON cf.fold = f.fold AND cf.lang = cg.lang
                      AND cf.tok = cg.tok
      JOIN langs_f lf ON lf.fold = f.fold AND lf.lang = cg.lang
      WHERE cg.c - COALESCE(cf.cf, 0) > 0
    ),
    dtc AS (SELECT doc_id, fold, lang_true, tok,
            CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks GROUP BY 1, 2, 3, 4),
    scored AS (
      SELECT tk.doc_id, tk.fold, tk.lang_true, lg.lang,
             MIN(lg.prior) + SUM(tk.cnt * COALESCE(m.w, lg.w0)) AS s
      FROM dtc tk
      JOIN langs_f lg ON lg.fold = tk.fold
      LEFT JOIN model_f m ON m.fold = tk.fold AND m.lang = lg.lang
                         AND m.tok = tk.tok
      GROUP BY 1, 2, 3, 4
    ),
    pred AS (
      SELECT doc_id, fold, lang_true, lang AS lang_pred,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, lang ASC) AS rn
      FROM scored
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
    FROM pred WHERE rn = 1 GROUP BY fold
    """,
    doc=f"{_CV_K}-fold cross-validation of the in-engine naive Bayes "
    "lang classifier WITHOUT training k times: every fold's training "
    "counts are the global counts minus the fold's own (one extra "
    "aggregate), including the per-fold training vocabulary — "
    "leakage-free held-out accuracy per fold, exact quantized scores",
)
def ml_kfold_nb_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold CV by COUNT SUBTRACTION: instead of k training passes,
    aggregate global (lang, tok) counts once plus per-(fold, lang,
    tok) counts once; fold f's training model is global − fold
    (Laplace-smoothed with the fold-corrected vocabulary — tokens
    whose every occurrence sits in f vanish from its training vocab).
    Each held-out doc is scored ONLY against its own fold's model via
    an equi-join on fold. Same 1e-9 log-term quantization as
    ml_naive_bayes, so scores are exact integer sums.

    Scale: two token aggregates (global, per-fold) + a k×vocab×langs
    model — k multiplies the MODEL side only, never corpus passes; the
    scoring shuffle is the same single doc_id exchange as the plain
    NB op. The classic 'k retrainings' cost collapses to one subtract.
    """
    docs = load(spark, "documents", sf_dir)
    toks = (
        docs.select(
            "doc_id",
            F.expr(_CV_FOLD).alias("fold"),
            F.col("lang").alias("lang_true"),
            F.explode(F.split(F.expr(_NORM), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    toks = pin(toks)
    dfold = docs.select("doc_id", F.expr(_CV_FOLD).alias("fold"), "lang")
    folds = spark.range(_CV_K).select(F.col("id").alias("fold"))
    d_g = docs.agg(F.count(F.lit(1)).cast("long").alias("d"))
    d_f = dfold.groupBy("fold").agg(F.count(F.lit(1)).cast("long").alias("df"))
    dl_g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    dl_f = dfold.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("dlf")
    )
    tl_g = toks.groupBy(F.col("lang_true").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("tl")
    )
    tl_f = toks.groupBy("fold", F.col("lang_true").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("tlf")
    )
    c_g = toks.groupBy(F.col("lang_true").alias("lang"), "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c_f = toks.groupBy(
        "fold", F.col("lang_true").alias("lang"), "tok"
    ).agg(F.count(F.lit(1)).cast("long").alias("cf"))
    tokt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    tokf = toks.groupBy("fold", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tcf")
    )
    v_g = tokt.agg(F.count(F.lit(1)).cast("long").alias("v"))
    x_f = (
        tokf.join(tokt, "tok")
        .filter(F.col("tcf") == F.col("tc"))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).cast("long").alias("xf"))
    )
    v_tr = (
        folds.crossJoin(F.broadcast(v_g))
        .join(x_f, "fold", "left")
        .select(
            "fold",
            (F.col("v") - F.coalesce("xf", F.lit(0))).alias("vtr"),
        )
    )
    langs_f = (
        folds.crossJoin(tl_g)
        .join(dl_g, "lang")
        .join(tl_f, ["fold", "lang"], "left")
        .join(dl_f, ["fold", "lang"], "left")
        .join(v_tr, "fold")
        .crossJoin(F.broadcast(d_g))
        .join(d_f, "fold")
        .select(
            "fold",
            "lang",
            (F.col("tl") - F.coalesce("tlf", F.lit(0))).alias("tltr"),
            "vtr",
            (F.col("dl") - F.coalesce("dlf", F.lit(0))).alias("dltr"),
            (F.col("d") - F.col("df")).alias("dtr"),
        )
        .filter((F.col("dltr") > 0) & (F.col("tltr") + F.col("vtr") > 0))
        .select(
            "fold",
            "lang",
            "tltr",
            "vtr",
            _q9(
                F.log(F.col("dltr").cast("double") / F.col("dtr").cast("double"))
            ).alias("prior"),
            _q9(
                F.log(
                    F.lit(1.0)
                    / (F.col("tltr") + F.col("vtr")).cast("double")
                )
            ).alias("w0"),
        )
    )
    langs_f = pin(langs_f)
    model_f = (
        folds.crossJoin(c_g)
        .join(c_f, ["fold", "lang", "tok"], "left")
        .join(langs_f.select("fold", "lang", "tltr", "vtr"), ["fold", "lang"])
        .select(
            "fold",
            "lang",
            "tok",
            (F.col("c") - F.coalesce("cf", F.lit(0))).alias("ctr"),
            "tltr",
            "vtr",
        )
        .filter(F.col("ctr") > 0)
        .select(
            "fold",
            "lang",
            "tok",
            _q9(
                F.log(
                    (F.col("ctr") + 1).cast("double")
                    / (F.col("tltr") + F.col("vtr")).cast("double")
                )
            ).alias("w"),
        )
    )
    dtc = toks.groupBy("doc_id", "fold", "lang_true", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    scored = (
        dtc.join(
            langs_f.select("fold", "lang", "prior", "w0"), "fold"
        )
        .join(model_f, ["fold", "lang", "tok"], "left")
        .groupBy("doc_id", "fold", "lang_true", "lang")
        .agg(
            (
                F.min("prior")
                + F.sum(F.col("cnt") * F.coalesce("w", F.col("w0")))
            ).alias("s")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("lang"))
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    correct = F.when(F.col("lang") == F.col("lang_true"), 1).otherwise(0)
    return pred.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(correct).cast("long").alias("n_correct"),
        F.expr(
            "cast(cast(sum(case when lang = lang_true then 1 else 0 end) "
            "as decimal(38,0)) * 1000000 div count(*) as bigint)"
        ).alias("acc_ppm"),
    ).select(F.col("fold").cast("long").alias("fold"), "n_test", "n_correct", "acc_ppm")


# ---------- learning curve (accuracy vs training-set size) ----------

_LC_BUCKET = f"((doc_id % {_GATE_P}) * {_GATE_MULT}) % {_GATE_P} % 10"
_LC_TIERS = (1, 2, 4, 8)  # train on buckets < t; test on buckets >= 8


@register(
    "ml_learning_curve",
    f"""
    WITH toks AS (
      SELECT doc_id, {_LC_BUCKET} AS bkt, lang AS lang_true, tok FROM (
        SELECT doc_id, lang,
               unnest(string_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents) t
      WHERE tok <> ''
    ),
    tiers AS (SELECT unnest([{", ".join(str(t) for t in _LC_TIERS)}]) AS tier),
    db AS (SELECT doc_id, {_LC_BUCKET} AS bkt, lang FROM documents),
    d_t AS (SELECT tier, CAST(COUNT(*) AS BIGINT) AS d
            FROM tiers, db WHERE db.bkt < tier GROUP BY tier),
    dl_t AS (SELECT tier, lang, CAST(COUNT(*) AS BIGINT) AS dl
             FROM tiers, db WHERE db.bkt < tier GROUP BY tier, lang),
    tl_t AS (SELECT tier, lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS tl
             FROM tiers, toks WHERE toks.bkt < tier GROUP BY tier, lang_true),
    c_t AS (SELECT tier, lang_true AS lang, tok,
            CAST(COUNT(*) AS BIGINT) AS c
            FROM tiers, toks WHERE toks.bkt < tier
            GROUP BY tier, lang_true, tok),
    v_t AS (SELECT tier, CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM tiers, toks WHERE toks.bkt < tier GROUP BY tier),
    langs_t AS (
      SELECT t.tier, l.lang, l.tl, v.v,
             CAST(FLOOR(ln(CAST(dl.dl AS DOUBLE) / CAST(d.d AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS prior,
             CAST(FLOOR(ln(1.0 / CAST(l.tl + v.v AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w0
      FROM tiers t
      JOIN tl_t l ON l.tier = t.tier
      JOIN dl_t dl ON dl.tier = t.tier AND dl.lang = l.lang
      JOIN v_t v ON v.tier = t.tier
      JOIN d_t d ON d.tier = t.tier
      WHERE dl.dl > 0 AND l.tl + v.v > 0
    ),
    model_t AS (
      SELECT c.tier, c.lang, c.tok,
             CAST(FLOOR(ln(CAST(c.c + 1 AS DOUBLE)
                  / CAST(l.tl + l.v AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w
      FROM c_t c JOIN langs_t l ON l.tier = c.tier AND l.lang = c.lang
    ),
    dtc AS (SELECT doc_id, lang_true, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM toks WHERE bkt >= 8 GROUP BY 1, 2, 3),
    scored AS (
      SELECT tk.doc_id, lg.tier, tk.lang_true, lg.lang,
             MIN(lg.prior) + SUM(tk.cnt * COALESCE(m.w, lg.w0)) AS s
      FROM dtc tk
      JOIN langs_t lg ON TRUE
      LEFT JOIN model_t m ON m.tier = lg.tier AND m.lang = lg.lang
                         AND m.tok = tk.tok
      GROUP BY 1, 2, 3, 4
    ),
    pred AS (
      SELECT doc_id, tier, lang_true, lang AS lang_pred,
             ROW_NUMBER() OVER (PARTITION BY doc_id, tier
                                ORDER BY s DESC, lang ASC) AS rn
      FROM scored
    )
    SELECT CAST(p.tier AS BIGINT) AS tier,
           CAST(p.tier * 10 AS BIGINT) AS train_pct,
           CAST(MAX(d.d) AS BIGINT) AS n_train_docs,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
    FROM pred p JOIN d_t d ON d.tier = p.tier
    WHERE rn = 1 GROUP BY p.tier
    """,
    doc="learning curve: held-out naive Bayes accuracy at 10/20/40/80% "
    "training fractions, every tier's model from ONE per-bucket count "
    "pass (nested hash-bucket subsets — no repeated training scans); "
    "the 'will more data help' diagnostic",
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy-vs-training-size curve for the in-engine NB lang
    classifier. Docs hash into 10 nested buckets; tier t trains on
    buckets < t (t ∈ 1,2,4,8) and every tier evaluates on the same
    fixed held-out 20% (buckets ≥ 8) — nested subsets, so the curve
    isolates data volume from split noise, leakage-free by
    construction. Same 1e-9 log-term quantization as ml_naive_bayes.

    Scale: the fact-side work is ONE token pass; tier models join the
    per-bucket counts against a 4-row tier spec (the tier × bucket
    fan-out multiplies MODEL-side rows only). Scoring fans each test
    doc across 4 tiers × langs — a bounded constant — and the argmax
    shuffles once on (doc_id, tier).
    """
    docs = load(spark, "documents", sf_dir)
    toks = pin(
        docs.select(
            "doc_id",
            F.expr(_LC_BUCKET).alias("bkt"),
            F.col("lang").alias("lang_true"),
            F.explode(F.split(F.expr(_NORM), " ")).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    tiers = literal_df(spark, [(t,) for t in _LC_TIERS], "tier long")
    db = docs.select("doc_id", F.expr(_LC_BUCKET).alias("bkt"), "lang")
    bc_tiers = F.broadcast(tiers)
    d_t = (
        bc_tiers.join(db, db.bkt < tiers.tier)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dl_t = (
        bc_tiers.join(db, db.bkt < tiers.tier)
        .groupBy("tier", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
    )
    tl_t = (
        bc_tiers.join(toks, toks.bkt < tiers.tier)
        .groupBy("tier", F.col("lang_true").alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("tl"))
    )
    c_t = (
        bc_tiers.join(toks, toks.bkt < tiers.tier)
        .groupBy("tier", F.col("lang_true").alias("lang"), "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    v_t = (
        bc_tiers.join(toks, toks.bkt < tiers.tier)
        .groupBy("tier")
        .agg(F.countDistinct("tok").cast("long").alias("v"))
    )
    langs_t = (
        tl_t.join(dl_t, ["tier", "lang"])
        .join(v_t, "tier")
        .join(d_t, "tier")
        .filter((F.col("dl") > 0) & (F.col("tl") + F.col("v") > 0))
        .select(
            "tier",
            "lang",
            "tl",
            "v",
            _q9(
                F.log(F.col("dl").cast("double") / F.col("d").cast("double"))
            ).alias("prior"),
            _q9(
                F.log(F.lit(1.0) / (F.col("tl") + F.col("v")).cast("double"))
            ).alias("w0"),
        )
    )
    langs_t = pin(langs_t)
    model_t = c_t.join(
        langs_t.select("tier", "lang", "tl", "v"), ["tier", "lang"]
    ).select(
        "tier",
        "lang",
        "tok",
        _q9(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("tl") + F.col("v")).cast("double")
            )
        ).alias("w"),
    )
    dtc = (
        toks.filter(F.col("bkt") >= 8)
        .groupBy("doc_id", "lang_true", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    scored = (
        dtc.crossJoin(
            F.broadcast(langs_t.select("tier", "lang", "prior", "w0"))
        )
        .join(model_t, ["tier", "lang", "tok"], "left")
        .groupBy("doc_id", "tier", "lang_true", "lang")
        .agg(
            (
                F.min("prior")
                + F.sum(F.col("cnt") * F.coalesce("w", F.col("w0")))
            ).alias("s")
        )
    )
    w = Window.partitionBy("doc_id", "tier").orderBy(
        F.desc("s"), F.asc("lang")
    )
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        pred.join(F.broadcast(d_t), "tier")
        .groupBy("tier")
        .agg(
            (F.max("tier") * 10).cast("long").alias("train_pct"),
            F.max("d").cast("long").alias("n_train_docs"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("lang") == F.col("lang_true"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
            F.expr(
                "cast(cast(sum(case when lang = lang_true then 1 else 0 "
                "end) as decimal(38,0)) * 1000000 div count(*) as bigint)"
            ).alias("acc_ppm"),
        )
        .select(
            F.col("tier").cast("long").alias("tier"),
            "train_pct",
            "n_train_docs",
            "n_test",
            "n_correct",
            "acc_ppm",
        )
    )


# ---------- split-conformal prediction interval ----------

_CONF_BUCKET = f"((event_id % {_GATE_P}) * {_GATE_MULT}) % {_GATE_P} % 10"


@register(
    "ml_conformal_interval",
    f"""
    WITH q AS (SELECT event_type, {_CONF_BUCKET} AS bkt,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
               FROM events),
    mu AS (SELECT event_type,
           CAST(SUM(qv) // COUNT(*) AS BIGINT) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_train
           FROM q WHERE bkt < 6 GROUP BY event_type),
    cal AS (SELECT ABS(q.qv - mu.mu) AS r
            FROM q JOIN mu ON mu.event_type = q.event_type
            WHERE q.bkt IN (6, 7)),
    ranked AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn,
               COUNT(*) OVER () AS nc FROM cal),
    qh AS (SELECT r AS q_hat, nc FROM ranked
           WHERE rn = LEAST((9 * nc + 18) // 10, nc)),
    test AS (SELECT ABS(q.qv - mu.mu) AS r
             FROM q JOIN mu ON mu.event_type = q.event_type
             WHERE q.bkt >= 8)
    SELECT CAST(MAX(qh.nc) AS BIGINT) AS n_cal,
           CAST(MAX(qh.q_hat) AS BIGINT) AS q_hat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN test.r <= qh.q_hat THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN test.r <= qh.q_hat THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
    FROM test CROSS JOIN qh
    """,
    doc="split-conformal 90% prediction interval: per-type mean model "
    "on train, calibration residual quantile ceil(0.9(n+1))/n as the "
    "half-width, guaranteed-coverage audit on held-out test — "
    "distribution-free uncertainty quantification, exact integers",
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction (Vovk; Angelopoulos & Bates 2021
    tutorial shape): 60/20/20 hash split, a trivially simple per-type
    mean model, and the finite-sample-valid interval half-width
    q̂ = the ceil(0.9·(n+1))-th smallest calibration residual. The
    output row audits held-out coverage — conformal theory guarantees
    ≥ 90% regardless of the model or distribution; the exact rank pick
    and integer residuals make that auditable bit-for-bit.

    Scale: the calibration rank pick is ``with_rank_targets`` (two-
    level bucketed — no global sort); everything else is map-side
    aggregates and a 5-row broadcast of the per-type means. The
    coverage pass streams test rows against two broadcast scalars.
    """
    ev = load(spark, "events", sf_dir)
    q = pin(
        ev.select(
            "event_type",
            F.expr(_CONF_BUCKET).alias("bkt"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
    )
    mu = (
        q.filter(F.col("bkt") < 6)
        .groupBy("event_type")
        .agg(
            F.expr("cast(sum(qv) div count(*) as bigint)").alias("mu"),
            F.count(F.lit(1)).cast("long").alias("n_train"),
        )
    )
    cal = (
        q.filter(F.col("bkt").isin(6, 7))
        .join(F.broadcast(mu), "event_type")
        .select(F.abs(F.col("qv") - F.col("mu")).alias("r"))
    )
    qh = with_rank_targets(
        cal, "r", (), ["least((9 * nn + 18) div 10, nn)"]
    ).select(F.col("value").alias("q_hat"), F.col("nn").alias("n_cal"))
    test = (
        q.filter(F.col("bkt") >= 8)
        .join(F.broadcast(mu), "event_type")
        .select(F.abs(F.col("qv") - F.col("mu")).alias("r"))
    )
    covered = F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0)
    return (
        test.crossJoin(F.broadcast(qh))
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.max("q_hat").cast("long").alias("q_hat"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(covered).cast("long").alias("n_covered"),
            F.expr(
                "cast(cast(sum(case when r <= q_hat then 1 else 0 end) "
                "as decimal(38,0)) * 1000000 div count(*) as bigint)"
            ).alias("coverage_ppm"),
        )
    )


# ---------- leave-one-source-out influence (data valuation) ----------

_LOO_BUCKET = f"((doc_id % {_GATE_P}) * {_GATE_MULT}) % {_GATE_P} % 10"


@register(
    "ml_loo_source_influence",
    f"""
    WITH toks AS (
      SELECT doc_id, {_LOO_BUCKET} AS bkt, source, lang AS lang_true, tok
      FROM (SELECT doc_id, lang, source,
                   unnest(string_split({_NORM_DUCK}, ' ')) AS tok
            FROM documents) t
      WHERE tok <> ''
    ),
    tr AS (SELECT * FROM toks WHERE bkt < 8),
    te AS (SELECT * FROM toks WHERE bkt >= 8),
    srcs AS (SELECT DISTINCT source AS held FROM tr),
    arms AS (SELECT held FROM srcs UNION ALL SELECT '__full__' AS held),
    dtr AS (SELECT DISTINCT doc_id, source, lang_true FROM tr),
    d_a AS (SELECT a.held, CAST(COUNT(*) AS BIGINT) AS d
            FROM arms a JOIN dtr ON dtr.source <> a.held GROUP BY a.held),
    dl_a AS (SELECT a.held, dtr.lang_true AS lang,
             CAST(COUNT(*) AS BIGINT) AS dl
             FROM arms a JOIN dtr ON dtr.source <> a.held
             GROUP BY a.held, dtr.lang_true),
    tl_a AS (SELECT a.held, tr.lang_true AS lang,
             CAST(COUNT(*) AS BIGINT) AS tl
             FROM arms a JOIN tr ON tr.source <> a.held
             GROUP BY a.held, tr.lang_true),
    c_a AS (SELECT a.held, tr.lang_true AS lang, tr.tok,
            CAST(COUNT(*) AS BIGINT) AS c
            FROM arms a JOIN tr ON tr.source <> a.held
            GROUP BY a.held, tr.lang_true, tr.tok),
    v_a AS (SELECT a.held, CAST(COUNT(DISTINCT tr.tok) AS BIGINT) AS v
            FROM arms a JOIN tr ON tr.source <> a.held GROUP BY a.held),
    langs_a AS (
      SELECT l.held, l.lang, l.tl, v.v,
             CAST(FLOOR(ln(CAST(dl.dl AS DOUBLE) / CAST(d.d AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS prior,
             CAST(FLOOR(ln(1.0 / CAST(l.tl + v.v AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w0
      FROM tl_a l
      JOIN dl_a dl ON dl.held = l.held AND dl.lang = l.lang
      JOIN v_a v ON v.held = l.held
      JOIN d_a d ON d.held = l.held
      WHERE dl.dl > 0 AND l.tl + v.v > 0
    ),
    model_a AS (
      SELECT c.held, c.lang, c.tok,
             CAST(FLOOR(ln(CAST(c.c + 1 AS DOUBLE)
                  / CAST(l.tl + l.v AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w
      FROM c_a c JOIN langs_a l ON l.held = c.held AND l.lang = c.lang
    ),
    dtc AS (SELECT doc_id, lang_true, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM te GROUP BY 1, 2, 3),
    scored AS (
      SELECT tk.doc_id, lg.held, tk.lang_true, lg.lang,
             MIN(lg.prior) + SUM(tk.cnt * COALESCE(m.w, lg.w0)) AS s
      FROM dtc tk
      JOIN langs_a lg ON TRUE
      LEFT JOIN model_a m ON m.held = lg.held AND m.lang = lg.lang
                         AND m.tok = tk.tok
      GROUP BY 1, 2, 3, 4
    ),
    pred AS (
      SELECT doc_id, held, lang_true, lang AS lang_pred,
             ROW_NUMBER() OVER (PARTITION BY doc_id, held
                                ORDER BY s DESC, lang ASC) AS rn
      FROM scored
    ),
    acc AS (
      SELECT held, CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN lang_pred = lang_true THEN 1 ELSE 0 END)
                  * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
      FROM pred WHERE rn = 1 GROUP BY held
    )
    SELECT a.held AS source, a.n_test, a.acc_ppm,
           CAST(f.acc_ppm - a.acc_ppm AS BIGINT) AS influence_ppm
    FROM acc a CROSS JOIN (SELECT acc_ppm FROM acc
                           WHERE held = '__full__') f
    WHERE a.held <> '__full__'
    """,
    doc="leave-one-source-out influence: held-out NB accuracy with "
    "each source removed from training (count subtraction via an "
    "anti-membership join — no per-source retraining scans), "
    "influence = full-model accuracy minus LOO accuracy in ppm; the "
    "marginal-contribution twin of the Shapley coverage valuation",
)
def ml_loo_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data valuation by ablation: for every source s, the naive Bayes
    lang classifier is 'retrained' WITHOUT s (training counts filtered
    through an arms × rows anti-membership join — one aggregate builds
    all 21 arms, including '__full__') and scored on the fixed 20%
    held-out set. influence_ppm > 0 means the source helps held-out
    accuracy; ≤ 0 flags sources safe to drop. Same 1e-9 log-term
    quantization as ml_naive_bayes — exact integer scores.

    Scale: the arms fan-out multiplies MODEL-side aggregates (21 ×
    vocab × langs), never the corpus scan; scoring fans each test doc
    across arms × langs, a bounded constant. At many sources, switch
    arms to the top-k sources by mass plus a 'rest' arm — same plan.
    """
    docs = load(spark, "documents", sf_dir)
    toks = pin(
        docs.select(
            "doc_id",
            F.expr(_LOO_BUCKET).alias("bkt"),
            "source",
            F.col("lang").alias("lang_true"),
            F.explode(F.split(F.expr(_NORM), " ")).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    tr = toks.filter(F.col("bkt") < 8)
    te = toks.filter(F.col("bkt") >= 8)
    srcs = tr.select(F.col("source").alias("held")).distinct()
    arms = pin(
        srcs.unionByName(
            literal_df(srcs.sparkSession, [("__full__",)], "held string")
        )
    )
    dtr = tr.select("doc_id", "source", "lang_true").distinct()
    d_a = (
        arms.join(dtr, dtr.source != arms.held)
        .groupBy("held")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dl_a = (
        arms.join(dtr, dtr.source != arms.held)
        .groupBy("held", F.col("lang_true").alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("dl"))
    )
    tl_a = (
        arms.join(tr, tr.source != arms.held)
        .groupBy("held", F.col("lang_true").alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("tl"))
    )
    c_a = (
        arms.join(tr, tr.source != arms.held)
        .groupBy("held", F.col("lang_true").alias("lang"), "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    v_a = (
        arms.join(tr, tr.source != arms.held)
        .groupBy("held")
        .agg(F.countDistinct("tok").cast("long").alias("v"))
    )
    langs_a = pin(
        tl_a.join(dl_a, ["held", "lang"])
        .join(v_a, "held")
        .join(d_a, "held")
        .filter((F.col("dl") > 0) & (F.col("tl") + F.col("v") > 0))
        .select(
            "held",
            "lang",
            "tl",
            "v",
            _q9(
                F.log(F.col("dl").cast("double") / F.col("d").cast("double"))
            ).alias("prior"),
            _q9(
                F.log(F.lit(1.0) / (F.col("tl") + F.col("v")).cast("double"))
            ).alias("w0"),
        )
    )
    model_a = c_a.join(
        langs_a.select("held", "lang", "tl", "v"), ["held", "lang"]
    ).select(
        "held",
        "lang",
        "tok",
        _q9(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("tl") + F.col("v")).cast("double")
            )
        ).alias("w"),
    )
    dtc = te.groupBy("doc_id", "lang_true", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    scored = (
        dtc.crossJoin(
            F.broadcast(langs_a.select("held", "lang", "prior", "w0"))
        )
        .join(model_a, ["held", "lang", "tok"], "left")
        .groupBy("doc_id", "held", "lang_true", "lang")
        .agg(
            (
                F.min("prior")
                + F.sum(F.col("cnt") * F.coalesce("w", F.col("w0")))
            ).alias("s")
        )
    )
    w = Window.partitionBy("doc_id", "held").orderBy(
        F.desc("s"), F.asc("lang")
    )
    acc = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("held")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "cast(cast(sum(case when lang = lang_true then 1 else 0 "
                "end) as decimal(38,0)) * 1000000 div count(*) as bigint)"
            ).alias("acc_ppm"),
        )
    )
    acc = pin(acc)
    full = acc.filter(F.col("held") == "__full__").select(
        F.col("acc_ppm").alias("full_acc")
    )
    return (
        acc.filter(F.col("held") != "__full__")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("held").alias("source"),
            "n_test",
            "acc_ppm",
            (F.col("full_acc") - F.col("acc_ppm"))
            .cast("long")
            .alias("influence_ppm"),
        )
    )


# ---------- quantile forecast evaluation (pinball loss) ----------

_PB_BUCKET = f"((event_id % {_GATE_P}) * {_GATE_MULT}) % {_GATE_P} % 10"


@register(
    "ml_pinball_quantile_eval",
    f"""
    WITH q AS (SELECT event_type, {_PB_BUCKET} AS bkt,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
               FROM events),
    tr AS (SELECT event_type, qv,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY qv) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM q WHERE bkt < 8),
    q90 AS (SELECT event_type, qv AS q90
            FROM tr WHERE rn = (9 * (n - 1)) // 10 + 1),
    te AS (SELECT q.event_type, q.qv, g.q90
           FROM q JOIN q90 g ON g.event_type = q.event_type
           WHERE q.bkt >= 8)
    SELECT event_type,
           CAST(MAX(q90) AS BIGINT) AS q90_micro,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(GREATEST(9 * (qv - q90), q90 - qv)) AS BIGINT)
             AS pinball10_sum,
           CAST(SUM(GREATEST(9 * (qv - q90), q90 - qv)) // COUNT(*)
                AS BIGINT) AS pinball10_mean,
           CAST(SUM(CASE WHEN qv <= q90 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS coverage_ppm
    FROM te GROUP BY event_type
    """,
    doc="quantile-forecast evaluation: per-type p90 from the train "
    "split (exact rank pick) scored on held-out data with the pinball "
    "loss at tau=0.9 (x10 integer form: max(9(y-q), q-y)) plus "
    "empirical coverage — the proper scoring rule for quantile "
    "forecasts, all integer-exact",
)
def ml_pinball_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss: the proper scoring rule that is
    minimized in expectation by the true tau-quantile — evaluating a
    p90 forecast with MAE/MSE would reward the wrong target. The tau
    = 0.9 loss is kept integer by scaling x10 (max(9(y−q), (q−y)) in
    micro units); held-out coverage_ppm ≈ 900000 confirms the train
    quantile transfers.

    Scale: the train quantile is a per-type rank pick (partitioned
    window — bounded per series); the scoring pass streams test rows
    against the broadcast per-type quantile table. One shuffle each.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        F.expr(_PB_BUCKET).alias("bkt"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    q = pin(q)
    wq = Window.partitionBy("event_type").orderBy("qv")
    wn = Window.partitionBy("event_type")
    tr = q.filter(F.col("bkt") < 8).select(
        "event_type",
        "qv",
        F.row_number().over(wq).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q90 = tr.filter(
        F.col("rn") == F.expr("(9 * (n - 1)) div 10 + 1")
    ).select("event_type", F.col("qv").alias("q90"))
    te = q.filter(F.col("bkt") >= 8).join(F.broadcast(q90), "event_type")
    loss = F.greatest(
        9 * (F.col("qv") - F.col("q90")), F.col("q90") - F.col("qv")
    )
    return te.groupBy("event_type").agg(
        F.max("q90").cast("long").alias("q90_micro"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(loss).cast("long").alias("pinball10_sum"),
        F.expr(
            "cast(sum(greatest(9 * (qv - q90), q90 - qv)) div count(*) "
            "as bigint)"
        ).alias("pinball10_mean"),
        F.expr(
            "cast(cast(sum(case when qv <= q90 then 1 else 0 end) "
            "as decimal(38,0)) * 1000000 div count(*) as bigint)"
        ).alias("coverage_ppm"),
    )


# ---------- stratified treatment-effect estimation (causal) ----------


@register(
    "ml_stratified_ate",
    f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS treat,
             CAST(COUNT(*) AS BIGINT) AS activity,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY activity, user_id) AS rn,
          COUNT(*) OVER () AS n FROM u),
    s AS (SELECT treat, y, (rn - 1) * 5 // n AS stratum FROM r),
    per AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(CASE WHEN treat = 1 THEN y ELSE 0 END) * 1000000
                  // NULLIF(SUM(treat), 0) AS BIGINT) AS p1_ppm,
             CAST(SUM(CASE WHEN treat = 0 THEN y ELSE 0 END) * 1000000
                  // NULLIF(SUM(1 - treat), 0) AS BIGINT) AS p0_ppm
      FROM s GROUP BY stratum
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN treat = 1 THEN y ELSE 0 END) * 1000000
                  // NULLIF(SUM(treat), 0) AS BIGINT) AS p1_all,
             CAST(SUM(CASE WHEN treat = 0 THEN y ELSE 0 END) * 1000000
                  // NULLIF(SUM(1 - treat), 0) AS BIGINT) AS p0_all
      FROM s
    )
    SELECT tot.n AS n_users,
           CAST(tot.p1_all - tot.p0_all AS BIGINT) AS naive_diff_ppm,
           CAST(SUM(per.n_s * (per.p1_ppm - per.p0_ppm)) // tot.n
                AS BIGINT) AS ate_ppm,
           CAST(tot.p1_all - tot.p0_all
                - SUM(per.n_s * (per.p1_ppm - per.p0_ppm)) // tot.n
                AS BIGINT) AS confounding_bias_ppm
    FROM per CROSS JOIN tot
    WHERE per.p1_ppm IS NOT NULL AND per.p0_ppm IS NOT NULL
    GROUP BY tot.n, tot.p1_all, tot.p0_all
    """,
    doc="observational treatment-effect estimation: average treatment "
    "effect via subclassification on an activity-quintile confounder "
    "(Cochran stratification — the propensity-score precursor), naive "
    "vs adjusted difference and the confounding bias they disagree "
    "by, all integer-ppm",
)
def ml_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal adjustment without randomization: users stratify into
    activity quintiles (the measured confounder), per-stratum
    treated/control outcome rates difference, weighted by stratum
    size — Cochran's subclassification estimator, the precursor of
    propensity-score methods. The naive unadjusted difference and the
    bias it carries are reported beside the ATE; with this synthetic
    parity 'exposure' the two should nearly agree (no confounding by
    construction) — pinned loosely by test. Every rate is an integer
    ppm (per-stratum quantization before the weighted sum, the chi2
    convention).

    Scale: one per-user aggregate, one global rank (two-phase at
    100 TB — strata are rank buckets), two map-side-combined stratum
    aggregates. Strata missing an arm are dropped (complete-case
    subclassification), visible via n_users.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    ).select(
        F.when(F.col("user_id") % 3 == 0, 1).otherwise(0).alias("treat"),
        "activity",
        "y",
        "user_id",
    )
    r = with_total_rank(u, "activity", (F.col("user_id"),), rn="rn", nn="n")
    s = r.select(
        "treat", "y", F.expr("(rn - 1) * 5 div n").alias("stratum")
    )
    s = pin(s)
    per = s.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.expr(
            "cast(sum(case when treat = 1 then y else 0 end) * 1000000 "
            "div nullif(sum(treat), 0) as bigint)"
        ).alias("p1_ppm"),
        F.expr(
            "cast(sum(case when treat = 0 then y else 0 end) * 1000000 "
            "div nullif(sum(1 - treat), 0) as bigint)"
        ).alias("p0_ppm"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "cast(sum(case when treat = 1 then y else 0 end) * 1000000 "
            "div nullif(sum(treat), 0) as bigint)"
        ).alias("p1_all"),
        F.expr(
            "cast(sum(case when treat = 0 then y else 0 end) * 1000000 "
            "div nullif(sum(1 - treat), 0) as bigint)"
        ).alias("p0_all"),
    )
    return (
        per.filter(
            F.col("p1_ppm").isNotNull() & F.col("p0_ppm").isNotNull()
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "p1_all", "p0_all")
        .agg(
            F.expr(
                "cast(sum(n_s * (p1_ppm - p0_ppm)) div max(n) as bigint)"
            ).alias("ate_ppm")
        )
        .select(
            F.col("n").alias("n_users"),
            (F.col("p1_all") - F.col("p0_all"))
            .cast("long")
            .alias("naive_diff_ppm"),
            "ate_ppm",
            (F.col("p1_all") - F.col("p0_all") - F.col("ate_ppm"))
            .cast("long")
            .alias("confounding_bias_ppm"),
        )
    )


# ---------- uplift evaluation (Qini at deciles) ----------


@register(
    "ml_qini_deciles",
    f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS treat,
             CAST(COUNT(*) AS BIGINT) AS activity,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY activity DESC, user_id)
            AS rn, COUNT(*) OVER () AS n FROM u),
    d AS (SELECT treat, y, (rn - 1) * 10 // n + 1 AS decile FROM r),
    c AS (SELECT decile,
          CAST(SUM(CASE WHEN treat = 1 THEN y ELSE 0 END) AS BIGINT) AS y1,
          CAST(SUM(treat) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN treat = 0 THEN y ELSE 0 END) AS BIGINT) AS y0,
          CAST(SUM(1 - treat) AS BIGINT) AS n0
          FROM d GROUP BY decile),
    cum AS (SELECT decile,
            SUM(y1) OVER w AS cy1, SUM(n1) OVER w AS cn1,
            SUM(y0) OVER w AS cy0, SUM(n0) OVER w AS cn0
            FROM c WINDOW w AS (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(cy1 AS BIGINT) AS cum_treated_y,
           CAST(cy0 AS BIGINT) AS cum_control_y,
           CAST(cn1 AS BIGINT) AS cum_treated_n,
           CAST(cn0 AS BIGINT) AS cum_control_n,
           CAST(cy1 * 1000000 // NULLIF(cn1, 0)
                - cy0 * 1000000 // NULLIF(cn0, 0) AS BIGINT)
             AS uplift_ppm
    FROM cum
    """,
    doc="uplift (Qini-style) evaluation at score deciles: users ranked "
    "by a targeting score (activity proxy), cumulative treated vs "
    "control response and their integer-ppm uplift per decile — the "
    "'whom to target' curve; a flat curve means the score carries no "
    "heterogeneous treatment effect",
)
def ml_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-model evaluation: rank users by the targeting score
    (activity here — production plugs any model score), cut into
    deciles, and accumulate treated/control response down the
    ranking. The per-decile cumulative uplift (p̂1 − p̂0, integer
    ppm) is the Qini/uplift curve's y-axis; a score with real
    heterogeneous effect shows high uplift in the top deciles
    decaying toward the population ATE.

    Scale: one per-user aggregate, a two-phase global rank for the
    decile cut, one decile aggregate; the 10-row cumulative window is
    bounded (one_part). Same shape at any user count.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    ).select(
        F.when(F.col("user_id") % 3 == 0, 1).otherwise(0).alias("treat"),
        (-F.col("activity")).alias("neg_act"),
        "y",
        "user_id",
    )
    r = with_total_rank(u, "neg_act", (F.col("user_id"),), rn="rn", nn="n")
    d = r.select(
        "treat", "y", F.expr("(rn - 1) * 10 div n + 1").alias("decile")
    )
    c = d.groupBy("decile").agg(
        F.sum(F.when(F.col("treat") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("y1"),
        F.sum("treat").cast("long").alias("n1"),
        F.sum(F.when(F.col("treat") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("y0"),
        F.sum(1 - F.col("treat")).cast("long").alias("n0"),
    )
    wcum = (
        Window.partitionBy(one_part("decile"))
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = c.select(
        "decile",
        F.sum("y1").over(wcum).cast("long").alias("cum_treated_y"),
        F.sum("n1").over(wcum).cast("long").alias("cum_treated_n"),
        F.sum("y0").over(wcum).cast("long").alias("cum_control_y"),
        F.sum("n0").over(wcum).cast("long").alias("cum_control_n"),
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        "cum_treated_y",
        "cum_control_y",
        "cum_treated_n",
        "cum_control_n",
        F.expr(
            "cast(cum_treated_y * 1000000 div nullif(cum_treated_n, 0) "
            "- cum_control_y * 1000000 div nullif(cum_control_n, 0) "
            "as bigint)"
        ).alias("uplift_ppm"),
    )


# ---------- ALS fold-in: closed-form user-factor solve (k = 2) ----------

_ALS_LAMBDA = 1


@register(
    "ml_als_user_solve",
    f"""
    WITH r AS (SELECT user_id, event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1, 2),
    vf AS (SELECT DISTINCT event_type,
           CAST(ascii(substr(event_type, 1, 1)) % 7 - 3 AS BIGINT) AS v1,
           CAST(length(event_type) % 5 - 2 AS BIGINT) AS v2
           FROM events),
    g AS (SELECT SUM(v1 * v1) + {_ALS_LAMBDA} AS g11,
          SUM(v1 * v2) AS g12,
          SUM(v2 * v2) + {_ALS_LAMBDA} AS g22 FROM vf),
    b AS (SELECT r.user_id,
          CAST(SUM(r.cnt * vf.v1) AS BIGINT) AS b1,
          CAST(SUM(r.cnt * vf.v2) AS BIGINT) AS b2
          FROM r JOIN vf ON vf.event_type = r.event_type
          GROUP BY r.user_id),
    u AS (SELECT b.user_id,
          g.g11 * g.g22 - g.g12 * g.g12 AS det,
          g.g22 * b.b1 - g.g12 * b.b2 AS u1n,
          g.g11 * b.b2 - g.g12 * b.b1 AS u2n
          FROM b CROSS JOIN g),
    e AS (SELECT r.user_id,
          CAST(r.cnt * u.det - (u.u1n * vf.v1 + u.u2n * vf.v2)
               AS HUGEINT) AS resid_n,
          u.det
          FROM r JOIN vf ON vf.event_type = r.event_type
          JOIN u ON u.user_id = r.user_id)
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MAX(det) AS BIGINT) AS det,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(FLOOR(CAST(CAST(SUM(resid_n * resid_n) AS VARCHAR)
                AS DOUBLE)
                / (CAST(MAX(det) AS DOUBLE) * MAX(det) * COUNT(*))
                * 1000000.0 + 0.5) AS BIGINT) AS mse_micro
    FROM e
    """,
    doc="ALS fold-in step (k=2): every user's latent factors solved in "
    "closed form against fixed integer item factors — the 2x2 normal "
    "equations inverted symbolically (division deferred to exact "
    "integer numerators over det), mean squared reconstruction error "
    "in micro units; the recommender serving-path 'new user' solve",
)
def ml_als_user_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One half of an ALS sweep, the half serving systems run online:
    with item factors V fixed (deterministic integer features of the
    item key here), each user's factors solve (VᵀV + λI)u = Vᵀr — a
    2×2 system inverted in closed form. All arithmetic stays in exact
    integer NUMERATORS over the common determinant (u = u_num/det),
    so residuals r·det − u_num·v are exact integers on both engines;
    only the final MSE normalization divides, through the exact-int →
    string → double path. The full ALS alternation repeats this shape
    per side with a localCheckpoint between sweeps.

    Scale: the ratings aggregate is the only fact pass; the item-
    factor and Gram tables are item-bounded broadcasts; the solve and
    residuals are expression-side. Shuffles: one on (user, item), one
    on user.
    Overflow bound (the n²·x² rule): det is a CONSTANT ≤ (5·9+λ)(5·4+λ)
    ≈ 2.6e3 (item factors are bounded digits over 5 event types), and
    |resid_n| ≤ cnt·det + |u1n·v1 + u2n·v2| ≲ 8·det·cnt, so
    SUM(resid_n²) ≲ 4e8·cnt_max²·n_cells — under 1e38 through
    cnt_max = 1e9 events/user × n_cells = 1e10, past the 100 TB point.
    Past that, pre-scale resid_n by integer floor-div on BOTH engines
    (ts_haar_energy pattern) before squaring; decimal(38,0) NULLs while
    HUGEINT errors, so the divergence would otherwise be silent.
    """
    ev = load(spark, "events", sf_dir)
    r = pin(
        ev.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    )
    vf = (
        r.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.expr(
                "cast(ascii(substr(event_type, 1, 1)) % 7 - 3 as bigint)"
            ).alias("v1"),
            F.expr("cast(length(event_type) % 5 - 2 as bigint)").alias("v2"),
        )
    )
    g = vf.agg(
        (F.sum(F.col("v1") * F.col("v1")) + _ALS_LAMBDA).alias("g11"),
        F.sum(F.col("v1") * F.col("v2")).alias("g12"),
        (F.sum(F.col("v2") * F.col("v2")) + _ALS_LAMBDA).alias("g22"),
    )
    b = (
        r.join(F.broadcast(vf), "event_type")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("cnt") * F.col("v1")).cast("long").alias("b1"),
            F.sum(F.col("cnt") * F.col("v2")).cast("long").alias("b2"),
        )
    )
    u = b.crossJoin(F.broadcast(g)).select(
        "user_id",
        (F.col("g11") * F.col("g22") - F.col("g12") * F.col("g12")).alias(
            "det"
        ),
        (F.col("g22") * F.col("b1") - F.col("g12") * F.col("b2")).alias(
            "u1n"
        ),
        (F.col("g11") * F.col("b2") - F.col("g12") * F.col("b1")).alias(
            "u2n"
        ),
    )
    e = (
        r.join(F.broadcast(vf), "event_type")
        .join(u, "user_id")
        .select(
            "user_id",
            F.expr(
                "cast(cnt * det - (u1n * v1 + u2n * v2) as decimal(38,0))"
            ).alias("resid_n"),
            "det",
        )
    )
    return e.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.max("det").cast("long").alias("det"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.expr(
            "cast(floor(cast(cast(sum(resid_n * resid_n) as string) "
            "as double) / (cast(max(det) as double) * max(det) "
            "* count(*)) * 1000000.0 + 0.5) as bigint)"
        ).alias("mse_micro"),
    )


# ---------- off-policy evaluation (inverse propensity scoring) ----------

_OPE_ACTIONS = 5  # logged policy: uniform over the 5 event types


@register(
    "ml_offpolicy_ips",
    f"""
    WITH logs AS (SELECT user_id, event_type AS a_log,
                  CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS r
                  FROM events),
    pol AS (SELECT user_id, a_log, r,
            CASE WHEN user_id % 2 = 0 THEN 'click' ELSE 'view' END
              AS a_tgt
            FROM logs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_logged,
           CAST(SUM(CASE WHEN a_log = a_tgt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(SUM(r) // COUNT(*) AS BIGINT) AS logging_value_micro,
           CAST(SUM(CASE WHEN a_log = a_tgt THEN r ELSE 0 END)
                * {_OPE_ACTIONS} // COUNT(*) AS BIGINT)
             AS ips_value_micro,
           CAST(SUM(CASE WHEN a_log = a_tgt THEN r ELSE 0 END)
                // NULLIF(SUM(CASE WHEN a_log = a_tgt THEN 1 ELSE 0 END),
                          0) AS BIGINT) AS matched_mean_micro
    FROM pol
    """,
    doc="off-policy evaluation via inverse propensity scoring: the "
    "target policy's value estimated from uniformly-logged data as "
    "K·mean(match·reward) (propensity 1/K cancels exactly — integer "
    "arithmetic end-to-end), beside the logging policy's value and "
    "the matched-rows direct mean — counterfactual 'what would this "
    "policy have earned' without deploying it",
)
def ml_offpolicy_ips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual policy value from logged randomized data
    (Horvitz-Thompson / IPS): with the logging policy uniform over K
    actions, V̂(π) = K · mean(1{{a_log = π(x)}} · r) is unbiased and —
    because the propensity is the constant 1/K — EXACT integer
    arithmetic here. The target policy is a deterministic context
    rule (user parity → action); the output compares its IPS value
    to the logging policy's realized value plus the matched-subset
    direct mean (the DM sanity check IPS should roughly agree with).

    Scale: one scan, one map-side-combined aggregate — the estimator
    is embarrassingly parallel by construction. Non-uniform logging
    swaps the constant K for a joined propensity column; the plan is
    unchanged.
    """
    ev = load(spark, "events", sf_dir)
    pol = ev.select(
        F.col("event_type").alias("a_log"),
        F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("r"),
        F.when(F.col("user_id") % 2 == 0, "click")
        .otherwise("view")
        .alias("a_tgt"),
    )
    match = F.when(F.col("a_log") == F.col("a_tgt"), 1).otherwise(0)
    matched_r = F.when(F.col("a_log") == F.col("a_tgt"), F.col("r")).otherwise(
        0
    )
    return pol.agg(
        F.count(F.lit(1)).cast("long").alias("n_logged"),
        F.sum(match).cast("long").alias("n_matched"),
        F.expr("cast(sum(r) div count(*) as bigint)").alias(
            "logging_value_micro"
        ),
        F.expr(
            "cast(sum(case when a_log = a_tgt then r else 0 end) "
            f"* {_OPE_ACTIONS} div count(*) as bigint)"
        ).alias("ips_value_micro"),
        F.expr(
            "cast(sum(case when a_log = a_tgt then r else 0 end) "
            "div nullif(sum(case when a_log = a_tgt then 1 else 0 end), 0) "
            "as bigint)"
        ).alias("matched_mean_micro"),
    )


# ---------- McNemar paired-classifier test ----------

_MCN_CRIT_Q6 = 3841459  # chi2(1, 0.95) = 3.841459, quantized 1e-6


@register(
    "ml_mcnemar_test",
    f"""
    WITH q AS (
      SELECT (event_type = 'error') AS y,
             (value >= 500.0) AS pa,
             (hour(ts) < 6) AS pb
      FROM events
    ),
    c AS (
      SELECT
        CAST(SUM(CASE WHEN (pa = y) AND (pb = y) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
        CAST(SUM(CASE WHEN (pa = y) AND (pb <> y) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_a_only,
        CAST(SUM(CASE WHEN (pa <> y) AND (pb = y) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_b_only,
        CAST(SUM(CASE WHEN (pa <> y) AND (pb <> y) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_neither
      FROM q
    ),
    s AS (
      SELECT n_both, n_a_only, n_b_only, n_neither,
             CASE WHEN n_a_only + n_b_only > 0 THEN
               CAST(FLOOR(
                 CAST((ABS(n_a_only - n_b_only) - 1)
                      * (ABS(n_a_only - n_b_only) - 1) AS DOUBLE)
                 / CAST(n_a_only + n_b_only AS DOUBLE)
                 * 1000000.0 + 0.5) AS BIGINT)
             END AS chi2_q
      FROM c
    )
    SELECT n_both, n_a_only, n_b_only, n_neither,
           CAST(chi2_q AS DOUBLE) / 1000000.0 AS mcnemar_chi2,
           COALESCE(chi2_q >= {_MCN_CRIT_Q6}, FALSE) AS differ
    FROM s
    """,
    doc="McNemar paired test comparing two deterministic error "
    "detectors (value threshold vs night-hours rule) on the same "
    "events: discordant-pair counts, continuity-corrected "
    "(|b−c|−1)²/(b+c) quantized 1e-6, verdict vs the χ²(1) 95% "
    "critical value on the QUANTIZED statistic — the right test for "
    "'is model A actually better than model B on the SAME data' "
    "(two-proportion z on overlapping samples is wrong)",
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparing two classifiers evaluated on the SAME rows is a
    paired design: accuracies share the n_both/n_neither mass, so the
    unpaired z-test double-counts it. McNemar conditions on the
    discordant pairs only — b rows where only A is right, c where
    only B — and tests b = c with the continuity-corrected chi².
    Here the two 'models' are deterministic rules (a value threshold
    and an hour-of-day rule) predicting the error label, making the
    contingency reproducible with zero training state.

    Determinism: the 2×2 discordance table is exact integer counts
    from ONE conditional aggregation; the statistic is one float
    division of exact integers, floor-quantized 1e-6, and the
    verdict compares quantized integers. Degenerate b+c = 0 yields
    NULL, verdict FALSE (COALESCE'd on both sides).

    Scale: one map-side-combined fact pass to four counters. Nothing
    else.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        (F.col("event_type") == "error").alias("y"),
        (F.col("value") >= 500.0).alias("pa"),
        (F.hour("ts") < 6).alias("pb"),
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    a_ok = F.col("pa") == F.col("y")
    b_ok = F.col("pb") == F.col("y")
    c = q.agg(
        cnt(a_ok & b_ok).alias("n_both"),
        cnt(a_ok & ~b_ok).alias("n_a_only"),
        cnt(~a_ok & b_ok).alias("n_b_only"),
        cnt(~a_ok & ~b_ok).alias("n_neither"),
    )
    chi2_q = F.when(
        F.col("n_a_only") + F.col("n_b_only") > 0,
        F.floor(
            (
                (F.abs(F.col("n_a_only") - F.col("n_b_only")) - 1)
                * (F.abs(F.col("n_a_only") - F.col("n_b_only")) - 1)
            ).cast("double")
            / (F.col("n_a_only") + F.col("n_b_only")).cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    )
    s = c.withColumn("chi2_q", chi2_q)
    return s.select(
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        (F.col("chi2_q").cast("double") / F.lit(1e6)).alias(
            "mcnemar_chi2"
        ),
        F.coalesce(F.col("chi2_q") >= _MCN_CRIT_Q6, F.lit(False)).alias(
            "differ"
        ),
    )


# ---------- AdaBoost over two decision stumps ----------


@register(
    "ml_adaboost_stumps",
    """
    WITH q AS (
      SELECT CAST(event_type = 'error' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv,
             CAST(hour(ts) AS BIGINT) AS hr
      FROM events
    ),
    r AS (
      SELECT qv, ROW_NUMBER() OVER (ORDER BY qv) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    thr1 AS (
      SELECT k.k, r.qv AS t
      FROM (SELECT unnest(range(1, 10)) AS k) k
      JOIN r ON r.rn = (k.k * (r.nn - 1)) // 10 + 1
    ),
    ev1 AS (
      SELECT thr1.t, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CASE WHEN (qv > t) <> (y = 1) THEN 1 ELSE 0 END)
                  AS HUGEINT) AS ep
      FROM q CROSS JOIN thr1 GROUP BY thr1.t
    ),
    cand1 AS (
      SELECT t, n, 1 AS pol, ep AS e FROM ev1
      UNION ALL
      SELECT t, n, 0 AS pol, n - ep AS e FROM ev1
    ),
    s1 AS (
      SELECT t, n, pol, e, ROW_NUMBER() OVER (
        ORDER BY e ASC, t ASC, pol DESC) AS rnk
      FROM cand1
    ),
    b1 AS (SELECT t, n, pol, e FROM s1 WHERE rnk = 1),
    m1 AS (
      SELECT q.y, q.hr,
             CASE WHEN (CASE WHEN b1.pol = 1 THEN q.qv > b1.t
                             ELSE q.qv <= b1.t END) <> (q.y = 1)
                  THEN 1 ELSE 0 END AS mis1
      FROM q, b1
    ),
    thr2 AS (SELECT unnest(range(0, 23)) AS t2),
    ev2 AS (
      SELECT thr2.t2, b1.n, b1.e,
             CAST(SUM(CASE WHEN (hr > t2) <> (y = 1) AND mis1 = 1
                           THEN 1 ELSE 0 END) AS HUGEINT) AS mm,
             CAST(SUM(CASE WHEN (hr > t2) <> (y = 1) AND mis1 = 0
                           THEN 1 ELSE 0 END) AS HUGEINT) AS mc
      FROM m1 CROSS JOIN thr2, b1
      GROUP BY thr2.t2, b1.n, b1.e
    ),
    cand2 AS (
      SELECT t2, n, e, 1 AS pol,
             (n - e) * mm + e * mc AS w FROM ev2
      UNION ALL
      SELECT t2, n, e, 0 AS pol,
             (n - e) * (e - mm) + e * ((n - e) - mc) AS w FROM ev2
    ),
    s2 AS (
      SELECT t2, n, e, pol, w, ROW_NUMBER() OVER (
        ORDER BY w ASC, t2 ASC, pol DESC) AS rnk
      FROM cand2
    ),
    b2 AS (SELECT t2, n, e, pol, w FROM s2 WHERE rnk = 1),
    al AS (
      SELECT b1.t AS t1, b1.pol AS pol1, b1.e AS e1, b1.n,
             b2.t2, b2.pol AS pol2, b2.w AS w2,
             2 * b1.e * (b1.n - b1.e) AS wtot,
             CASE WHEN b1.e > 0 AND b1.e < b1.n THEN
               CAST(FLOOR(0.5 * ln(
                 CAST(CAST(b1.n - b1.e AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(b1.e AS VARCHAR) AS DOUBLE))
                 * 1000000000.0 + 0.5) AS BIGINT) END AS a1q,
             CASE WHEN b2.w > 0
                       AND 2 * b1.e * (b1.n - b1.e) - b2.w > 0 THEN
               CAST(FLOOR(0.5 * ln(
                 CAST(CAST(2 * b1.e * (b1.n - b1.e) - b2.w AS VARCHAR)
                      AS DOUBLE)
                 / CAST(CAST(b2.w AS VARCHAR) AS DOUBLE))
                 * 1000000000.0 + 0.5) AS BIGINT) END AS a2q
      FROM b1, b2
    ),
    acc AS (
      SELECT al.t1, al.pol1, al.e1, al.n, al.t2, al.pol2, al.w2,
             al.wtot, al.a1q, al.a2q,
             CAST(SUM(CASE WHEN ((
               al.a1q * (CASE WHEN (CASE WHEN al.pol1 = 1
                                        THEN q.qv > al.t1
                                        ELSE q.qv <= al.t1 END)
                              THEN 1 ELSE -1 END)
               + al.a2q * (CASE WHEN (CASE WHEN al.pol2 = 1
                                          THEN q.hr > al.t2
                                          ELSE q.hr <= al.t2 END)
                                THEN 1 ELSE -1 END)) > 0)
               = (q.y = 1) THEN 1 ELSE 0 END) AS HUGEINT) AS ok
      FROM q, al
      GROUP BY al.t1, al.pol1, al.e1, al.n, al.t2, al.pol2, al.w2,
               al.wtot, al.a1q, al.a2q
    )
    SELECT CAST(t1 AS DOUBLE) / 1000000.0 AS threshold1,
           CAST(pol1 AS BIGINT) AS pol1,
           CAST(e1 * 1000000 // n AS BIGINT) AS err1_ppm,
           CAST(a1q AS DOUBLE) / 1000000000.0 AS alpha1,
           CAST(t2 AS BIGINT) AS hour_threshold2,
           CAST(pol2 AS BIGINT) AS pol2,
           CAST(CASE WHEN wtot > 0 THEN w2 * 1000000 // wtot
                END AS BIGINT) AS err2_ppm,
           CAST(a2q AS DOUBLE) / 1000000000.0 AS alpha2,
           CAST(ok * 1000000 // n AS BIGINT) AS train_acc_ppm
    FROM acc
    """,
    doc="AdaBoost (2 rounds) over decision stumps: round 1 picks the "
    "best (value-decile, polarity) stump by 0-1 error, the exact "
    "rational reweighting (mis -> n-e, correct -> e — integer "
    "weights, no floats) trains a second stump on hour-of-day by "
    "weighted error, alphas = half-log-odds quantized 1e-9, ensemble "
    "train accuracy from the quantized weighted vote — the boosting "
    "step ml_decision_stump feeds (its Gini splitter is the "
    "weak-learner inner loop; this is the ensemble outer loop)",
)
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosting in exact arithmetic: after round 1 the AdaBoost
    reweighting gives every misclassified row weight 1/(2e) and every
    correct row 1/(2(n−e)) — so RELATIVE integer weights (n−e) vs e
    drop the normalization entirely and the round-2 weighted error is
    a pure integer comparison ((n−e)·mis∩mis + e·mis∩corr vs the
    total 2e(n−e)). Nothing about boosting forces floats until the
    α = ½ln((1−ε)/ε) coefficients, which are single lns of exact
    integer ratios quantized at 1e-9; the ensemble vote compares
    quantized-integer sums, so the 4-leaf decision rule is
    bit-deterministic (a tied vote predicts negative — strict >).

    Round-2 candidates are the 23 hour split points (bounded
    literal); round 1 uses the 9 exact value deciles via
    ``with_rank_targets``. Polarity ties break toward pol=1.

    Scale: three fact passes (decile evaluation, round-2 weighted
    counts, ensemble accuracy), each a broadcast-candidate
    conditional aggregation — no shuffle of raw rows beyond the
    map-side combines; weight products reach n² →
    HUGEINT/decimal(38,0) per the convention. The ≤9-row stump/alpha
    picks are BOUNDED: their per-candidate aggregates are collected
    and the argmin runs on the driver (exact integer compares,
    identical tiebreaks), so each round's pick is a LocalRelation —
    the plan stays flat across rounds without checkpoint jobs (the
    graph_k_core plan-doubling rule satisfied by literals instead of
    truncation) — this is also exactly how deeper ensembles iterate.
    """
    ev = load(spark, "events", sf_dir)
    q = pin(
        ev.select(
            (F.col("event_type") == "error").cast("int").alias("y"),
            F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("qv"),
            F.hour("ts").cast("long").alias("hr"),
        )
    )
    thr1 = with_rank_targets(
        q.select("qv"),
        "qv",
        (),
        ["((tid + 1) * (nn - 1)) div 10 + 1"] * 9,
    ).select(F.col("value").alias("t"))
    # r10 cube pass (guide §2.3 "aggregate before you shuffle", taken
    # to its limit): every per-candidate aggregate of rounds 1 and 2
    # AND the ensemble-accuracy pass factors through the BOUNDED cube
    # (bkt, hr, y) where bkt = |{thresholds < qv}| — ≤ 10·24·2 = 480
    # cells. One fact pass builds it (replacing three fact passes
    # with 9×/23× broadcast fan-outs); the candidate argmins run on
    # the driver over the cells in exact Python ints with the
    # identical tiebreaks. For a threshold value v, qv > v ⟺
    # bkt ≥ #{u: u ≤ v} (thresholds with equal values behave
    # identically), so every stump predicate is cell-derivable.
    ts = [r["t"] for r in thr1.collect()]  # 9 decile picks (bounded)
    # bkt as a flat sum of literal comparisons — stays inside
    # whole-stage codegen (a filter() higher-order lambda here is
    # interpreted per row and measurably slower)
    bkt_expr = " + ".join(
        f"(CASE WHEN qv > {u}L THEN 1 ELSE 0 END)" for u in sorted(ts)
    )
    cells = [
        (r["bkt"], r["hr"], r["y"], r["cnt"])
        for r in q.groupBy(
            F.expr(bkt_expr).alias("bkt"),
            "hr",
            "y",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    big_n = sum(c[3] for c in cells)
    # round 1: per distinct threshold value v (groupBy t merged
    # duplicate decile picks, scaling n/ep by the multiplicity m —
    # reproduced exactly)
    cand1 = []
    for v in sorted(set(ts)):
        m = sum(1 for u in ts if u == v)
        rv = sum(1 for u in ts if u <= v)
        ep = sum(
            cnt
            for bkt, _hr, y, cnt in cells
            if (bkt >= rv) != (y == 1)
        )
        cand1.append((v, m * big_n, 1, m * ep))
        cand1.append((v, m * big_n, 0, m * big_n - m * ep))
    t, n, pol, e = min(cand1, key=lambda c: (c[3], c[0], -c[2]))
    # round 2 over the same cells: mis1 is cell-derivable from bkt
    rt1 = sum(1 for u in ts if u <= t)

    def _gt1(bkt: int) -> bool:
        return bkt >= rt1

    def _mis1(bkt: int, y: int) -> bool:
        pred = _gt1(bkt) if pol == 1 else not _gt1(bkt)
        return pred != (y == 1)

    cand2_rows = []
    for t2c in range(0, 23):
        mm = sum(
            cnt
            for bkt, hr, y, cnt in cells
            if ((hr > t2c) != (y == 1)) and _mis1(bkt, y)
        )
        mc = sum(
            cnt
            for bkt, hr, y, cnt in cells
            if ((hr > t2c) != (y == 1)) and not _mis1(bkt, y)
        )
        cand2_rows.append((t2c, 1, (n - e) * mm + e * mc))
        cand2_rows.append(
            (t2c, 0, (n - e) * (e - mm) + e * ((n - e) - mc))
        )
    t2v, pol2, w2v = min(cand2_rows, key=lambda c: (c[2], c[0], -c[1]))
    # alpha coefficients: the two lns stay SPARK-evaluated (identical
    # expression trees: exact decimal literals -> string -> double
    # casts, same zero/saturation guards) over a 1-row VALUES relation.
    # Project over a LocalRelation folds into a LocalRelation, so the
    # collect() below runs no Spark job; the same projection over
    # spark.range(1) launched one (~24 ms). A createDataFrame-backed
    # row here is a Python-RDD scan re-executed on EVERY action
    # (measured 0.75 s per count).
    wtot = 2 * e * (n - e)
    dsql = lambda x: f"CAST('{x}' AS DECIMAL(38,0))"  # noqa: E731
    dlit = lambda x: F.expr(dsql(x))  # noqa: E731
    qln = (
        lambda num, den: F.floor(
            F.lit(0.5)
            * F.log(
                F.expr(f"CAST(CAST({num} AS STRING) AS DOUBLE)")
                / F.expr(f"CAST(CAST({den} AS STRING) AS DOUBLE)")
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long")
    )  # noqa: E731
    al = spark.sql(
        f"SELECT * FROM VALUES ({dsql(e)}, {dsql(n)}, {dsql(w2v)})"
        " AS t(e1, n, w)"
    ).select(
        # A PERFECT stump (e1 = 0, or a useless one e1 = n) and a
        # zero/saturated round-2 weighted error make the half-log-
        # odds ln hit 0 or a /0: Spark double/0.0 yields Infinity
        # (floor -> Long.MAX alpha) while DuckDB yields NULL --
        # guard to NULL on BOTH engines (the sibling convention:
        # ts_pacf_durbin, features_woe_iv).
        F.when(
            (F.col("e1") > 0) & (F.col("e1") < F.col("n")),
            qln("n - e1", "e1"),
        ).alias("a1q"),
        F.when(
            (F.col("w") > 0)
            & (F.expr("2 * e1 * (n - e1) - w") > 0),
            qln("2 * e1 * (n - e1) - w", "w"),
        ).alias("a2q"),
    )
    alr = al.collect()[0]
    a1q, a2q = alr["a1q"], alr["a2q"]
    # ensemble vote tally over the same cells in exact integer
    # arithmetic (alphas are integer-quantized longs; a NULL alpha
    # nulls the vote for every row -- CASE WHEN NULL -> ELSE 0, i.e.
    # ok = 0 -- reproduced explicitly)
    ok = 0
    if a1q is not None and a2q is not None:
        for bkt, hr, y, cnt in cells:
            s1 = 1 if (_gt1(bkt) if pol == 1 else not _gt1(bkt)) else -1
            s2 = 1 if ((hr > t2v) if pol2 == 1 else (hr <= t2v)) else -1
            if ((a1q * s1 + a2q * s2) > 0) == (y == 1):
                ok += cnt
    # final row: the original output expressions over exact literals
    # (decimal div semantics preserved) -- plan is a 1-row Range +
    # Project, no fact reference, so every re-count is milliseconds
    row = spark.range(1).select(
        F.lit(t).cast("long").alias("t1"),
        F.lit(pol).alias("pol1"),
        dlit(e).alias("e1"),
        dlit(n).alias("n"),
        F.lit(t2v).cast("long").alias("t2"),
        F.lit(pol2).alias("pol2"),
        dlit(w2v).alias("w2"),
        dlit(wtot).alias("wtot"),
        F.lit(a1q).cast("long").alias("a1q"),
        F.lit(a2q).cast("long").alias("a2q"),
        dlit(ok).alias("ok"),
    )
    return row.select(
        (F.col("t1").cast("double") / F.lit(1e6)).alias("threshold1"),
        F.col("pol1").cast("long").alias("pol1"),
        F.expr("cast(e1 * 1000000 div n as bigint)").alias("err1_ppm"),
        (F.col("a1q").cast("double") / F.lit(1e9)).alias("alpha1"),
        F.col("t2").cast("long").alias("hour_threshold2"),
        F.col("pol2").cast("long").alias("pol2"),
        F.expr(
            "cast(CASE WHEN wtot > 0 THEN w2 * 1000000 div wtot "
            "END as bigint)"
        ).alias("err2_ppm"),
        (F.col("a2q").cast("double") / F.lit(1e9)).alias("alpha2"),
        F.expr("cast(ok * 1000000 div n as bigint)").alias(
            "train_acc_ppm"
        ),
    )


# ---------- Cohen's kappa inter-rater agreement ----------


@register(
    "ml_cohens_kappa",
    """
    WITH q AS (
      SELECT CAST(value >= 500.0 AS INT) AS a,
             CAST(hour(ts) < 6 AS INT) AS b
      FROM events
    ),
    c AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(a * b) AS HUGEINT) AS n11,
             CAST(SUM(a * (1 - b)) AS HUGEINT) AS n10,
             CAST(SUM((1 - a) * b) AS HUGEINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS HUGEINT) AS n00
      FROM q
    ),
    s AS (
      SELECT n, n11, n10, n01, n00,
             (n11 + n10) AS a1, (n11 + n01) AS b1,
             n * (n11 + n00) AS po_n2_part,
             (n11 + n10) * (n11 + n01)
               + (n - n11 - n10) * (n - n11 - n01) AS pe_n2
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CAST((n11 + n00) * 1000000 // n AS BIGINT) AS po_ppm,
           CAST(pe_n2 * 1000000 // (n * n) AS BIGINT) AS pe_ppm,
           CASE WHEN n * n - pe_n2 <> 0 THEN
             FLOOR(CAST(CAST(po_n2_part - pe_n2 AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(n * n - pe_n2 AS VARCHAR) AS DOUBLE)
                   * 1000000.0 + 0.5) / 1000000.0
           END AS kappa
    FROM s
    """,
    doc="Cohen's kappa between the two deterministic error detectors "
    "(value threshold vs night-hours rule): chance-corrected "
    "agreement (n·agree − a1·b1 − a0·b0)/(n² − a1·b1 − a0·b0) as ONE "
    "float division of exact HUGEINT counts — the agreement "
    "complement of ml_mcnemar_test (which tests their DIFFERENCE); "
    "raw percent-agree overstates when both raters favor one class",
)
def ml_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do two labelers agree BEYOND chance? Percent
    agreement is inflated whenever both raters lean to the majority
    class; kappa subtracts the agreement their marginals would
    produce independently: κ = (p_o − p_e)/(1 − p_e). Multiplying
    through by n² keeps every term an exact integer (p_o·n² =
    n·(n11+n00), p_e·n² = a1·b1 + a0·b0), so the statistic is one
    correctly-rounded division of string-cast exact integers,
    floor-quantized 1e-6; the ppm marginals are truncating integer
    divisions. Degenerate p_e = 1 (both raters constant) yields NULL
    rather than 0/0. The same 2×2 table drives ``ml_mcnemar_test`` —
    kappa asks 'do they agree', McNemar asks 'which is better'.

    Scale: one map-side-combined fact pass to four counters; n² at
    fact scale → HUGEINT/decimal(38,0) per the convention.
    """
    ev = load(spark, "events", sf_dir)
    d38 = "decimal(38,0)"
    q = ev.select(
        (F.col("value") >= 500.0).cast("int").alias("a"),
        (F.hour("ts") < 6).cast("int").alias("b"),
    )
    c = q.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.expr("a * b")).cast(d38).alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast(d38).alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast(d38).alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast(d38).alias("n00"),
    )
    s = c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("n * (n11 + n00)").alias("po_n2_part"),
        F.expr(
            "(n11 + n10) * (n11 + n01) "
            "+ (n - n11 - n10) * (n - n11 - n01)"
        ).alias("pe_n2"),
    )
    kappa = F.when(
        F.expr("n * n - pe_n2") != 0,
        F.floor(
            F.expr("CAST(CAST(po_n2_part - pe_n2 AS STRING) AS DOUBLE)")
            / F.expr("CAST(CAST(n * n - pe_n2 AS STRING) AS DOUBLE)")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.expr("cast((n11 + n00) * 1000000 div n as bigint)").alias(
            "po_ppm"
        ),
        F.expr("cast(pe_n2 * 1000000 div (n * n) as bigint)").alias(
            "pe_ppm"
        ),
        kappa.alias("kappa"),
    )


# ---------- isotonic calibration (PAV via minimax) ----------


@register(
    "ml_isotonic_calibration",
    """
    WITH q AS (
      SELECT event_id,
             CAST(event_type = 'purchase' AS INT) AS y,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    r AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY qv, event_id) AS rn,
             COUNT(*) OVER () AS nn
      FROM q
    ),
    b AS (
      SELECT (rn - 1) * 10 // nn + 1 AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s
      FROM r GROUP BY (rn - 1) * 10 // nn + 1
    ),
    p AS (
      SELECT bin, n, s,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(s) OVER (ORDER BY bin) AS cs
      FROM b
    ),
    pj AS (SELECT bin AS j, cn AS cnj, cs AS csj FROM p),
    pk AS (SELECT bin AS k, cn AS cnk, cs AS csk FROM p),
    p0 AS (
      SELECT j, COALESCE(prev.cn, 0) AS cn0, COALESCE(prev.cs, 0) AS cs0
      FROM pj LEFT JOIN p prev ON prev.bin = pj.j - 1
    ),
    m1 AS (
      SELECT p.bin AS i, p0.j,
             MIN(CAST(pk.csk - p0.cs0 AS DOUBLE)
                 / CAST(pk.cnk - p0.cn0 AS DOUBLE)) AS mn
      FROM p JOIN p0 ON p0.j <= p.bin
             JOIN pk ON pk.k >= p.bin
      GROUP BY p.bin, p0.j
    ),
    iso AS (
      SELECT i AS bin, MAX(mn) AS g FROM m1 GROUP BY i
    )
    SELECT p.bin, p.n,
           CAST(p.s * 1000000 // p.n AS BIGINT) AS raw_rate_ppm,
           CAST(FLOOR(iso.g * 1000000.0 + 0.5) AS BIGINT)
             AS iso_rate_ppm,
           CAST(ABS(CAST(FLOOR(iso.g * 1000000.0 + 0.5) AS BIGINT)
                    - p.s * 1000000 // p.n) AS BIGINT) AS adjust_ppm
    FROM p JOIN iso ON iso.bin = p.bin
    """,
    doc="isotonic calibration of the decile reliability curve via the "
    "PAV minimax identity g(i) = max_{j<=i} min_{k>=i} mean(y, j..k): "
    "the monotone fit computed in closed form over bounded bin "
    "triples (no sequential pooling loop), means as single exact-"
    "integer divisions, MIN/MAX over bit-identical doubles — the "
    "monotone repair ml_calibration_bins' diagram feeds into "
    "(isotonic regression is THE standard probability calibrator "
    "beside Platt scaling)",
)
def ml_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic regression without the sequential pool-adjacent-
    violators loop: the PAV solution has the closed minimax form
    g(i) = max_{j≤i} min_{k≥i} mean(y[j..k]), so over B bins the fit
    is a bounded B³ enumeration — three joins over a 10-row table —
    instead of an inherently serial merge loop. Each interval mean is
    ONE correctly-rounded double division of exact integer prefix
    sums (cs_k − cs_{j−1})/(cn_k − cn_{j−1}); MIN/MAX over doubles
    that agree bitwise cross-engine pick identical values (order-
    safe, unlike float SUM), and only the final fitted rate is
    floor-quantized to ppm. Output: per decile the raw positive rate,
    the isotonic (monotone, weighted-least-squares-optimal) rate, and
    the adjustment magnitude — what a score→probability calibration
    table ships to serving.

    Scale: the fact table contributes via the same two-phase total
    rank as ml_calibration_bins (one pass); the PAV enumeration runs
    on B=10 rows (B³ = 1000 bounded combinations, all broadcast).
    More bins → still B³ driver-free expression work; at B where B³
    matters, bin first — isotonic on thousands of points is solved
    on the binned sufficient statistics identically.
    """
    ev = load(spark, "events", sf_dir)
    q = ev.select(
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        _q6(F.col("value")).alias("qv"),
    )
    r = with_total_rank(q, "qv", ("event_id",), nn="nn").select(
        "y", "rn", "nn"
    )
    b = r.groupBy(
        F.expr("(rn - 1) * 10 div nn + 1").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    w = (
        Window.partitionBy(one_part("bin"))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # 10 rows referenced 5x downstream — eager checkpoint truncates
    # the two-phase total-rank lineage out of every reference (the
    # adaboost/IPF rule: plan re-inlines pinned subtrees per use)
    p = b.select(
        "bin",
        "n",
        "s",
        F.sum("n").over(w).alias("cn"),
        F.sum("s").over(w).alias("cs"),
    ).localCheckpoint(eager=True)
    pj = p.select(F.col("bin").alias("j"))
    pk = p.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cnk"),
        F.col("cs").alias("csk"),
    )
    p0 = pj.join(
        p.select(
            (F.col("bin") + 1).alias("j"),
            F.col("cn").alias("cn0"),
            F.col("cs").alias("cs0"),
        ),
        "j",
        "left",
    ).select(
        "j",
        F.coalesce("cn0", F.lit(0)).alias("cn0"),
        F.coalesce("cs0", F.lit(0)).alias("cs0"),
    )
    m1 = (
        p.select(F.col("bin").alias("i"))
        .join(F.broadcast(p0), F.col("j") <= F.col("i"))
        .join(F.broadcast(pk), F.col("k") >= F.col("i"))
        .groupBy("i", "j")
        .agg(
            F.min(
                (F.col("csk") - F.col("cs0")).cast("double")
                / (F.col("cnk") - F.col("cn0")).cast("double")
            ).alias("mn")
        )
    )
    iso = m1.groupBy(F.col("i").alias("bin")).agg(
        F.max("mn").alias("g")
    )
    iso_ppm = F.floor(F.col("g") * F.lit(1e6) + F.lit(0.5)).cast("long")
    return p.join(F.broadcast(iso), "bin").select(
        "bin",
        "n",
        F.expr("cast(s * 1000000 div n as bigint)").alias(
            "raw_rate_ppm"
        ),
        iso_ppm.alias("iso_rate_ppm"),
        F.abs(
            iso_ppm - F.expr("cast(s * 1000000 div n as bigint)")
        ).alias("adjust_ppm"),
    )


# ---------- batch perceptron (integer-exact online-learning loop) ----------

_PCT_ROUNDS = 4


def _perceptron_sql(rounds: int) -> str:
    """Generated unrolled batch-perceptron chain (DuckDB twin)."""
    parts = [
        "q AS MATERIALIZED (SELECT "
        "CAST(CASE WHEN event_type = 'error' THEN 1 ELSE -1 END "
        "AS HUGEINT) AS y, "
        "CAST(FLOOR(value * 1000.0 + 0.5) AS HUGEINT) AS x1, "
        "CAST(hour(ts) AS HUGEINT) AS x2 FROM events)",
        "w0 AS (SELECT CAST(0 AS HUGEINT) AS w1, "
        "CAST(0 AS HUGEINT) AS w2, CAST(0 AS HUGEINT) AS b)",
    ]
    mis = "q.y * (w.w1 * q.x1 + w.w2 * q.x2 + w.b) <= 0"
    for r in range(rounds):
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT "
            f"SUM(CASE WHEN {mis} THEN q.y * q.x1 ELSE 0 END) AS d1, "
            f"SUM(CASE WHEN {mis} THEN q.y * q.x2 ELSE 0 END) AS d2, "
            f"SUM(CASE WHEN {mis} THEN q.y ELSE 0 END) AS db, "
            f"CAST(SUM(CASE WHEN {mis} THEN 1 ELSE 0 END) AS HUGEINT) "
            f"AS nmis, CAST(COUNT(*) AS HUGEINT) AS n "
            f"FROM q, w{r} w)"
        )
        # (empty corpus: n = 0 — the accuracy ratio must guard the
        # division on both engines, the adaboost err2_ppm class)
        parts.append(
            f"w{r + 1} AS (SELECT w.w1 + m.d1 AS w1, "
            f"w.w2 + m.d2 AS w2, w.b + m.db AS b FROM w{r} w, m{r} m)"
        )
    union = " UNION ALL ".join(
        (
            f"SELECT CAST({r + 1} AS BIGINT) AS round, "
            f"CAST(m.nmis AS BIGINT) AS n_mis, "
            f"CAST(CASE WHEN m.n > 0 THEN "
            f"(m.n - m.nmis) * 1000000 // m.n END AS BIGINT) "
            f"AS acc_ppm, "
            f"CAST(w.w1 AS BIGINT) AS w1, CAST(w.w2 AS BIGINT) AS w2, "
            f"CAST(w.b AS BIGINT) AS b "
            f"FROM m{r} m, w{r + 1} w"
        )
        for r in range(rounds)
    )
    return "WITH " + ", ".join(parts) + " " + union


@register(
    "ml_perceptron_batch",
    _perceptron_sql(_PCT_ROUNDS),
    doc=f"batch perceptron, {_PCT_ROUNDS} full gradient rounds trained "
    "in-engine: integer features (value milli-units, hour), weight "
    "update w += Σ_misclassified y·x as exact HUGEINT/decimal sums, "
    "per-round misclassification count + accuracy — the iterative "
    "linear-classifier training loop (the online-learning primitive "
    "the boosting/stump family doesn't cover), bit-stable across "
    "engines and partitionings",
)
def ml_perceptron_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rosenblatt's perceptron as a DataFrame training loop. The
    BATCH variant (sum the update over every currently-misclassified
    row, then step once) replaces the sequential per-row update —
    which has no deterministic distributed order — with one
    map-side-combined conditional aggregate per round: the update
    direction is order-free, so the learned weights are identical on
    any partitioning or engine. Everything stays on the integer
    grid: features are exact ints (value at 1e-3, hour), labels ±1,
    so weights and margins are exact integer sums — no learning-rate
    float ever appears (the perceptron is scale-invariant in the
    rate, so 1 is fully general).

    Weights start at 0, making round 1's margin 0 for every row —
    all rows misclassified (the ≤ 0 rule), so the first step is the
    class-difference centroid direction; subsequent rounds shrink
    n_mis (the pytest asserts the trace is non-degenerate and
    matches a python replay).

    Per-round state is a 1-row weight frame, eager-localCheckpointed
    (referenced by the next round AND the output union — the
    adaboost/graph_k_core lineage rule).

    Scale: each round is ONE broadcast of 3 integers + one map-side-
    combined aggregate over the fact scan — no shuffle of raw rows,
    rounds fixed. Margins reach w·x ≈ R·n·max|x|² → decimal(38,0)/
    HUGEINT per the overflow convention.
    """
    ev = load(spark, "events", sf_dir)
    d38 = "decimal(38,0)"
    q = pin(
        ev.select(
            F.when(F.col("event_type") == "error", 1)
            .otherwise(-1)
            .cast(d38)
            .alias("y"),
            F.floor(F.col("value") * 1000.0 + F.lit(0.5))
            .cast(d38)
            .alias("x1"),
            F.hour("ts").cast(d38).alias("x2"),
        )
    )
    w = spark.range(1).select(
        F.lit(0).cast(d38).alias("w1"),
        F.lit(0).cast(d38).alias("w2"),
        F.lit(0).cast(d38).alias("b"),
    )
    rows = []
    for r in range(_PCT_ROUNDS):
        mis = F.expr("y * (w1 * x1 + w2 * x2 + b) <= 0")
        m = (
            q.crossJoin(F.broadcast(w))
            .agg(
                F.sum(F.when(mis, F.expr("y * x1")).otherwise(0)).alias(
                    "d1"
                ),
                F.sum(F.when(mis, F.expr("y * x2")).otherwise(0)).alias(
                    "d2"
                ),
                F.sum(F.when(mis, F.col("y")).otherwise(0)).alias("db"),
                F.sum(F.when(mis, 1).otherwise(0))
                .cast(d38)
                .alias("nmis"),
                F.count(F.lit(1)).cast(d38).alias("n"),
            )
            .localCheckpoint(eager=True)
        )
        w = (
            w.crossJoin(F.broadcast(m))
            .select(
                F.expr(f"cast(w1 + d1 as {d38})").alias("w1"),
                F.expr(f"cast(w2 + d2 as {d38})").alias("w2"),
                F.expr(f"cast(b + db as {d38})").alias("b"),
            )
            .localCheckpoint(eager=True)
        )
        rows.append(
            m.crossJoin(F.broadcast(w)).select(
                F.lit(r + 1).cast("long").alias("round"),
                F.col("nmis").cast("long").alias("n_mis"),
                F.expr(
                    "cast(CASE WHEN n > 0 THEN "
                    "(n - nmis) * 1000000 div n END as bigint)"
                ).alias("acc_ppm"),
                F.col("w1").cast("long").alias("w1"),
                F.col("w2").cast("long").alias("w2"),
                F.col("b").cast("long").alias("b"),
            )
        )
    out = rows[0]
    for o in rows[1:]:
        out = out.unionByName(o)
    return out
