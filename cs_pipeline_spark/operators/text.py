"""Text-analysis operators for LLM-corpus curation (SURVEY §2.10).

Extension operators on the ``documents`` table (north star; no
reference citation). All hot-path math is native Column expressions —
ratios of exactly-counted integers, so both engines produce
bit-identical doubles and the driver's value-hash check applies in
full (no rows-only fallbacks in this module).

- ``text_stats`` — length / punctuation / digit / stopword ratios and
  a composite quality score (Gopher-style heuristics, simplified).
- ``text_quality_filter`` — rule flags + pass/fail verdict per doc.
- ``text_lang_id`` — n-gram-heuristic language ID: per-language
  function-word hit counts + a CJK character signal, deterministic
  argmax (fixed priority order breaks ties).
- ``text_token_count`` — whitespace tokens and a BPE-ish regex token
  count (letter runs | single digits | single symbols), the standard
  pre-tokenizer shape.
- ``text_fingerprint`` — document fingerprint via rolling 8-char
  windows → md5 → min/max (winnowing-style); two docs sharing a
  min-fingerprint are containment candidates.

Scale: every op here is a pure per-row map — no shuffle at all. On
100 TB these pipeline into one stage fused with the scan (and the
stopword/ngram literals ride along in the closure, no broadcast
needed).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.dedup import (
    _NORM,
    _NORM_DUCK,
    _sql_shingles,
    _tokens,
    shingles,
)
from cs_pipeline_spark.operators.helpers import dround, one_part, sql_dround, literal_df
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import load

# ---------- shared ----------

_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "be", "this", "that",
)


def _hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Occurrence count of any of `words` among tokens (HOF filter —
    interpreted, but trivially cheap next to the scan)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def _sql_hits(tokens: str, words: tuple[str, ...]) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({tokens}, t -> list_contains({lit}, t)))"


_DUCK_TOKENS = f"string_split({_NORM_DUCK}, ' ')"


# ---------- text_stats ----------


@register(
    "text_stats",
    "SELECT doc_id, "
    f"length({_NORM_DUCK}) AS n_chars_norm, "
    f"len({_DUCK_TOKENS}) AS n_tokens, "
    f"CASE WHEN len({_DUCK_TOKENS}) = 0 THEN NULL ELSE "
    f"CAST(length(replace({_NORM_DUCK}, ' ', '')) AS DOUBLE) / len({_DUCK_TOKENS}) END AS avg_token_len, "
    "CASE WHEN length(text) = 0 THEN NULL ELSE "
    "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio, "
    "CASE WHEN length(text) = 0 THEN NULL ELSE "
    "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio, "
    f"CASE WHEN len({_DUCK_TOKENS}) = 0 THEN NULL ELSE "
    f"CAST({_sql_hits(_DUCK_TOKENS, _STOPWORDS)} AS DOUBLE) / len({_DUCK_TOKENS}) END AS stopword_ratio "
    "FROM documents",
    doc="per-doc length/punct/digit/stopword stats (quality heuristics)",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    norm = F.expr(_NORM)
    toks = _tokens(norm)
    n_tokens = F.size(toks)
    raw_len = F.length("text")
    punct = raw_len - F.length(F.regexp_replace("text", "[.,;:!?]", ""))
    digit = raw_len - F.length(F.regexp_replace("text", "[0-9]", ""))
    return docs.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        n_tokens.alias("n_tokens"),
        # empty/0-token docs: ratios are NULL, never a DIVIDE_BY_ZERO
        # (ANSI mode throws; the degenerate-doc sweep caught this)
        F.when(
            n_tokens > 0,
            F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("double")
            / n_tokens,
        ).alias("avg_token_len"),
        F.when(raw_len > 0, punct.cast("double") / raw_len).alias(
            "punct_ratio"
        ),
        F.when(raw_len > 0, digit.cast("double") / raw_len).alias(
            "digit_ratio"
        ),
        F.when(
            n_tokens > 0, _hits(toks, _STOPWORDS).cast("double") / n_tokens
        ).alias("stopword_ratio"),
    )


# ---------- text_quality_filter ----------

_MIN_TOKENS = 20
_MAX_TOKENS = 100000
_MIN_AVG_LEN = 2.0
_MAX_AVG_LEN = 12.0
_MIN_STOPWORD = 0.01


@register(
    "text_quality_filter",
    "WITH s AS (SELECT doc_id, "
    f"len({_DUCK_TOKENS}) AS n_tokens, "
    f"CAST(length(replace({_NORM_DUCK}, ' ', '')) AS DOUBLE) / len({_DUCK_TOKENS}) AS avg_token_len, "
    f"CAST({_sql_hits(_DUCK_TOKENS, _STOPWORDS)} AS DOUBLE) / len({_DUCK_TOKENS}) AS stopword_ratio "
    "FROM documents) "
    "SELECT doc_id, "
    f"n_tokens < {_MIN_TOKENS} OR n_tokens > {_MAX_TOKENS} AS flag_length, "
    f"avg_token_len < {_MIN_AVG_LEN} OR avg_token_len > {_MAX_AVG_LEN} AS flag_word_len, "
    f"stopword_ratio < {_MIN_STOPWORD} AS flag_stopword, "
    f"NOT (n_tokens < {_MIN_TOKENS} OR n_tokens > {_MAX_TOKENS} "
    f"OR avg_token_len < {_MIN_AVG_LEN} OR avg_token_len > {_MAX_AVG_LEN} "
    f"OR stopword_ratio < {_MIN_STOPWORD}) AS quality_pass "
    "FROM s",
    doc="Gopher-style quality rules → per-doc flags + pass verdict",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    norm = F.expr(_NORM)
    toks = _tokens(norm)
    n_tokens = F.size(toks)
    avg_len = (
        F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    stop_ratio = _hits(toks, _STOPWORDS).cast("double") / n_tokens
    flag_length = (n_tokens < _MIN_TOKENS) | (n_tokens > _MAX_TOKENS)
    flag_word_len = (avg_len < _MIN_AVG_LEN) | (avg_len > _MAX_AVG_LEN)
    flag_stopword = stop_ratio < _MIN_STOPWORD
    return docs.select(
        "doc_id",
        flag_length.alias("flag_length"),
        flag_word_len.alias("flag_word_len"),
        flag_stopword.alias("flag_stopword"),
        (~(flag_length | flag_word_len | flag_stopword)).alias("quality_pass"),
    )


# ---------- text_lang_id ----------

_LANG_WORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "dans", "que", "pour"),
    "es": ("el", "los", "las", "es", "en", "que", "por", "una"),
}
_LANG_PRIORITY = ("en", "de", "fr", "es")  # deterministic tie-break
_CJK_RE = "[\\x{4e00}-\\x{9fff}]"  # \x{..} parses in both RE2 and Java


@register(
    "text_lang_id",
    "WITH h AS (SELECT doc_id, lang, "
    + ", ".join(
        f"{_sql_hits(_DUCK_TOKENS, _LANG_WORDS[lang])} AS hits_{lang}"
        for lang in _LANG_PRIORITY
    )
    + f", regexp_matches(text, '{_CJK_RE}') AS has_cjk FROM documents) "
    "SELECT doc_id, lang, "
    "CASE WHEN has_cjk THEN 'zh' "
    "WHEN hits_en = 0 AND hits_de = 0 AND hits_fr = 0 AND hits_es = 0 THEN 'und' "
    "WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en' "
    "WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de' "
    "WHEN hits_fr >= hits_es THEN 'fr' ELSE 'es' END AS pred_lang "
    "FROM h",
    doc="n-gram-heuristic language ID (function-word hits + CJK signal)",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    toks = _tokens(F.expr(_NORM))
    h = {lang: _hits(toks, _LANG_WORDS[lang]) for lang in _LANG_PRIORITY}
    scored = docs.select(
        "doc_id",
        "lang",
        *[h[lang].alias(f"hits_{lang}") for lang in _LANG_PRIORITY],
        (F.regexp_count("text", F.lit(_CJK_RE)) > 0).alias("has_cjk"),
    )
    c = F.col
    pred = (
        F.when(c("has_cjk"), F.lit("zh"))
        .when(
            (c("hits_en") == 0)
            & (c("hits_de") == 0)
            & (c("hits_fr") == 0)
            & (c("hits_es") == 0),
            F.lit("und"),
        )
        .when(
            (c("hits_en") >= c("hits_de"))
            & (c("hits_en") >= c("hits_fr"))
            & (c("hits_en") >= c("hits_es")),
            F.lit("en"),
        )
        .when(
            (c("hits_de") >= c("hits_fr")) & (c("hits_de") >= c("hits_es")),
            F.lit("de"),
        )
        .when(c("hits_fr") >= c("hits_es"), F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return scored.select("doc_id", "lang", pred.alias("pred_lang"))


# ---------- text_token_count ----------

# BPE-ish pre-tokenizer: letter runs | single digits | single symbols.
_BPE_RE = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


@register(
    "text_token_count",
    "SELECT doc_id, "
    f"len({_DUCK_TOKENS}) AS ws_tokens, "
    f"len(regexp_extract_all({_NORM_DUCK}, '{_BPE_RE}')) AS bpe_tokens, "
    f"length({_NORM_DUCK}) AS n_chars "
    "FROM documents",
    doc="whitespace + BPE-ish regex token counts per document",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    norm = F.expr(_NORM)
    return docs.select(
        "doc_id",
        F.size(_tokens(norm)).alias("ws_tokens"),
        F.regexp_count(norm, F.lit(_BPE_RE)).alias("bpe_tokens"),
        F.length(norm).alias("n_chars"),
    )


# ---------- text_fingerprint ----------

_WIN = 8  # rolling window width in chars


@register(
    "text_fingerprint",
    "WITH w AS (SELECT doc_id, "
    f"list_transform(range(1, greatest(length({_NORM_DUCK}) - {_WIN - 1}, 1) + 1), "
    f"i -> md5(substring({_NORM_DUCK}, i, {_WIN}))) AS hs "
    "FROM documents) "
    "SELECT doc_id, list_aggregate(hs, 'min') AS fp_min, "
    "list_aggregate(hs, 'max') AS fp_max, len(hs) AS n_windows FROM w",
    doc="winnowing-style fingerprint: min/max md5 over rolling 8-char windows",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting: every 8-char window is hashed; the
    min (and max) hash is a deterministic sketch of the document robust
    to edits outside the extremal windows. Shared ``fp_min`` between two
    docs ⇒ shared 8-gram ⇒ containment candidates."""
    docs = load(spark, "documents", sf_dir)
    norm = F.expr(_NORM)
    hs = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.length(norm) - (_WIN - 1), F.lit(1))
        ),
        lambda i: F.md5(norm.substr(i, F.lit(_WIN))),
    )
    out = docs.select("doc_id", hs.alias("hs"))
    return out.select(
        "doc_id",
        F.array_min("hs").alias("fp_min"),
        F.array_max("hs").alias("fp_max"),
        F.size("hs").alias("n_windows"),
    )


# ---------- text_repetition_score ----------
# Gopher-style repetition signals: heavily repetitive documents are
# low-quality training data. All ratios are exact integer counts
# divided identically in both engines.


@register(
    "text_repetition_score",
    "WITH t AS (SELECT doc_id, " + _DUCK_TOKENS + " AS ws FROM documents), "
    "g AS (SELECT doc_id, ws, len(ws) AS n, "
    "list_transform(range(1, greatest(len(ws), 1)), "
    "i -> ws[i] || ' ' || ws[i + 1]) AS bi, "
    "list_transform(range(1, greatest(len(ws) - 1, 1)), "
    "i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]) AS tri FROM t) "
    "SELECT doc_id, n AS n_words, "
    "CASE WHEN len(bi) > 0 THEN 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE)"
    " / CAST(len(bi) AS DOUBLE) ELSE 0.0 END AS dup_bigram_frac, "
    "CASE WHEN len(tri) > 0 THEN 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)"
    " / CAST(len(tri) AS DOUBLE) ELSE 0.0 END AS dup_trigram_frac, "
    "len(list_filter(range(1, greatest(len(ws), 1)), "
    "i -> ws[i] = ws[i + 1])) AS n_immediate_repeats FROM g",
    doc="repetition quality signals: duplicate bigram/trigram fraction "
    "+ immediate word repeats (Gopher-style rep filters)",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram fractions — the standard 'repetitious document'
    quality signal for corpus curation. Pure per-row expressions (no
    shuffle); ratios are exact-integer divisions so the hashes match
    DuckDB bit-for-bit.

    DuckDB's ``range(1, k)`` is empty when k ≤ 1, while Spark's
    ``sequence(1, 0)`` DESCENDS — the `greatest(n-1, 0)`-style guards
    keep the two aligned on tiny documents."""
    docs = load(spark, "documents", sf_dir)
    ws = _tokens(F.expr(_NORM))
    n = F.size(ws)

    empty = F.array().cast("array<int>")

    def positions(last: Column) -> Column:
        # Spark's sequence(1, 0) DESCENDS instead of returning [] —
        # guard explicitly so sub-width documents yield no positions.
        return F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(empty)

    def grams(width: int) -> Column:
        # 1-based positions 1..n-width+1; empty when n < width
        return F.transform(
            positions(n - (width - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j) for j in range(width)]
            ),
        )

    bi, tri = grams(2), grams(3)
    rep = F.size(
        F.filter(
            positions(n - 1),
            lambda i: F.element_at(ws, i) == F.element_at(ws, i + 1),
        )
    )

    def dup_frac(g: Column) -> Column:
        return F.when(
            F.size(g) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(g)).cast("double")
            / F.size(g).cast("double"),
        ).otherwise(F.lit(0.0))

    return docs.select(
        "doc_id",
        n.alias("n_words"),
        dup_frac(bi).alias("dup_bigram_frac"),
        dup_frac(tri).alias("dup_trigram_frac"),
        rep.alias("n_immediate_repeats"),
    )


# ---------- text_pii_scrub ----------
# PII redaction: the removal pass every training-data pipeline runs.
# The corpus has no PII, so each doc gets a deterministic synthetic
# email/phone/IP suffix first — the scrub then provably removes it.

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
_PII_PHONE = "\\b555-[0-9]{4}\\b"

_PII_SYNTH_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.com or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) "
    "|| ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR)"
)


@register(
    "text_pii_scrub",
    f"WITH s AS (SELECT doc_id, {_PII_SYNTH_DUCK} AS t FROM documents) "
    "SELECT doc_id, "
    f"len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails, "
    f"len(regexp_extract_all(t, '{_PII_IP}')) AS n_ips, "
    f"len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones, "
    f"regexp_replace(regexp_replace(regexp_replace(t, "
    f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{_PII_IP}', '<IP>', 'g'), "
    f"'{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed FROM s",
    doc="PII redaction: email/IP/phone regex counts + scrub to typed "
    "placeholders (expression-side, scan-fused)",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub with per-type counts. Patterns are chosen to
    parse identically under Java regex (Spark) and RE2 (DuckDB); the
    replace order (email → IP → phone) is part of the contract and
    identical on both sides. Pure per-row map — fuses with the scan."""
    docs = load(spark, "documents", sf_dir)
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(_PII_IP)).alias("n_ips"),
        F.regexp_count(t, F.lit(_PII_PHONE)).alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


# ---------- character-entropy quality signal ----------
# Low-entropy documents (repeated characters, template boilerplate,
# degenerate generations) are a standard curation cut alongside the
# length/punct/stopword ratios in text_quality_filter.


@register(
    "text_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS ch,
             length(text) AS n
      FROM documents WHERE length(text) > 0
    ), freq AS (
      SELECT doc_id, ch, n, COUNT(*) AS c
      FROM chars WHERE ch <> '' GROUP BY doc_id, ch, n
    )
    SELECT doc_id,
           ROUND(SUM(-(CAST(c AS DOUBLE) / n)
                     * LN(CAST(c AS DOUBLE) / n)), 6) AS char_entropy
    FROM freq GROUP BY doc_id
    """,
    doc="per-doc character-level Shannon entropy (nats, 6 dp) — the "
    "low-entropy boilerplate/degeneration curation signal",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H = −Σ p·ln p over the document's character distribution.

    Per-character p uses the document length as denominator on both
    engines; the sum runs over ≤ |alphabet| terms so 6-dp rounding
    absorbs ULP-order drift in the float accumulation.

    Scale: explode → (doc, char) hash-agg with map-side combine — the
    shuffle carries at most alphabet-size rows per document, not
    characters. No corpus-wide state; embarrassingly parallel.
    """
    docs = load(spark, "documents", sf_dir).filter(F.length("text") > 0)
    chars = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "")).alias("ch"),
        F.length("text").alias("n"),
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch", "n").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c").cast("double") / F.col("n")
    return freq.groupBy("doc_id").agg(
        F.round(F.sum(-p * F.log(p)), 6).alias("char_entropy")
    )


# ---------- readability scoring ----------


@register(
    "text_readability",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split({_NORM_DUCK}, ' ')) AS BIGINT) AS n_words,
             GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                      AS BIGINT), 1) AS n_sents,
             CAST(len(regexp_extract_all({_NORM_DUCK}, '[aeiouy]+'))
                  AS BIGINT) AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           FLOOR((206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words))
                 * 10000.0 + 0.5) / 10000.0 AS flesch
    FROM s WHERE n_words > 0
    """,
    doc="Flesch reading-ease per document: words/sentences/vowel-group "
    "syllable proxy counted by identical regexes in both engines — "
    "the readability curation signal (simple-English filters, "
    "audience binning), integer counts + two deterministic divisions",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease = 206.835 − 1.015·(W/S) − 84.6·(Syl/W),
    with the standard large-corpus approximations: sentences =
    [.!?]+ runs (floor 1), syllables = [aeiouy]+ vowel groups. All
    three counts are exact integers from one regexp pass; the score
    composes two correctly-rounded divisions — identical bits in both
    engines, rounded to 4 dp.

    Scale: pure per-row expression work fused into the scan; zero
    shuffle, zero Python.
    """
    docs = load(spark, "documents", sf_dir)
    norm = F.expr(_NORM)
    n_words = F.size(F.split(norm, " ")).cast("long")
    n_sents = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    n_syll = F.size(
        F.regexp_extract_all(norm, F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    s = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    return s.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        dround(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sents"))
            - F.lit(84.6)
            * (F.col("n_syll").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch"),
    )


# ---------- Python UDTF sentence splitter (Spark 4) ----------


@register(
    "udtf_sentence_split",
    """
    WITH raw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[.!?\\s]+'),
                         x -> x <> '') AS words
      FROM documents
    ),
    num AS (
      SELECT doc_id, words,
             unnest(range(1, CAST(CEIL(len(words) / 10.0) AS BIGINT) + 1))
               AS i
      FROM raw WHERE len(words) > 0
    ),
    seg AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_idx,
             array_to_string(words[CAST((i - 1) * 10 + 1 AS INTEGER)
                                   :CAST(i * 10 AS INTEGER)], ' ') AS sent
      FROM num
    )
    SELECT doc_id, sent_idx,
           CAST(length(sent) AS BIGINT) AS n_chars,
           md5(sent) AS sent_md5
    FROM seg
    """,
    doc="Python UDTF (Spark 4 table function): one doc row → N "
    "segment rows (10-word segments; [.!?]+ and whitespace both end "
    "words) via LATERAL join — the row-expanding API for Python "
    "logic explode() can't reach; md5 carries the segment text",
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined TABLE function: the Spark-4-native way to run
    row-expanding Python (a real pipeline would put a model-based
    sentence segmenter here; the 10-word segmenter keeps the oracle
    exact on a punctuation-free corpus). The UDTF executes
    executor-side in Arrow batches — the expansion never shuffles;
    output carries digests so the operator's own width stays bounded.

    Scale: identical shape to ``doc_chunk_split`` — scan-fused,
    zero-exchange; Python cost is the per-row segmenter, the reason
    to prefer expression-side splitting when a regex suffices.
    """
    import hashlib
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, sent_idx int, n_chars bigint, "
        "sent_md5 string"
    )
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            words = [
                w for w in _re.split(r"[.!?\s]+", text or "") if w
            ]
            for idx in range((len(words) + 9) // 10):
                sent = " ".join(words[idx * 10 : idx * 10 + 10])
                yield (
                    doc_id,
                    idx,
                    len(sent),
                    hashlib.md5(sent.encode("utf-8")).hexdigest(),
                )

    spark.udtf.register("split_sentences", SentenceSplit)
    load(spark, "documents", sf_dir).createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT s.* FROM documents d, "
        "LATERAL split_sentences(d.doc_id, d.text) s"
    )


_VG_BUCKET = 100  # docs per growth-curve bucket


@register(
    "text_vocab_growth",
    f"""
    WITH toks AS (
      SELECT DISTINCT d.doc_id, t.tok
      FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(tok)
      WHERE t.tok <> ''
    ), first_seen AS (
      SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ), by_bucket AS (
      SELECT CAST(first_doc // {_VG_BUCKET} AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS vocab_new
      FROM first_seen GROUP BY 1
    ), docs AS (
      SELECT CAST(doc_id // {_VG_BUCKET} AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT d.bucket, d.n_docs,
           COALESCE(b.vocab_new, 0) AS vocab_new,
           CAST(SUM(COALESCE(b.vocab_new, 0)) OVER (
             ORDER BY d.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS vocab_cum
    FROM docs d LEFT JOIN by_bucket b ON b.bucket = d.bucket
    """,
    doc=f"Heaps'-law vocabulary growth curve: new + cumulative distinct "
    f"tokens per {_VG_BUCKET}-doc bucket via first-occurrence scatter "
    "(one pass, no windowed distinct)",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps' law) over the corpus in ingestion
    order — the curve that tells a tokenizer-training pipeline when
    vocabulary coverage saturates.

    The naive form (\"distinct tokens in the first N docs\" for each
    N) is a windowed DISTINCT — unexpressible without re-scanning per
    bucket. The scatter form is one pass: each token contributes only
    at its FIRST occurrence (min doc_id), new-token counts roll up per
    bucket, and the cumulative sum over the tiny bucket spine gives
    the curve. Same trick as ``win_sliding_distinct``.

    Scale: shuffle 1 = distinct (doc, token) pairs (the dedup),
    shuffle 2 = min per token (map-side combined), then bucket rollup
    on |vocab| rows and a window over |buckets| rows — nothing
    corpus-sized crosses the wire after the first-occurrence reduce.
    Buckets here are doc_id ranges; a production curve buckets by
    ingestion date with identical shape.
    """
    docs = load(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).filter(F.col("tok") != "")
    first_seen = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    by_bucket = first_seen.groupBy(
        F.expr(f"first_doc div {_VG_BUCKET}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("vocab_new"))
    spine = docs.groupBy(
        F.expr(f"doc_id div {_VG_BUCKET}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy(one_part("bucket")).orderBy("bucket").rowsBetween(
        _W.unboundedPreceding, 0
    )
    return (
        spine.join(by_bucket, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.coalesce("vocab_new", F.lit(0)).alias("vocab_new"),
        )
        .withColumn("vocab_cum", F.sum("vocab_new").over(w).cast("long"))
    )


# ---------- language-ID confusion audit ----------

from cs_pipeline_spark.registry import _REGISTRY as _REG  # noqa: E402

_LANG_ID_ORACLE = _REG["text_lang_id"].oracle


@register(
    "corpus_lang_confusion",
    f"""
    WITH p AS ({_LANG_ID_ORACLE}),
    c AS (
      SELECT lang AS declared, pred_lang AS predicted,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM p GROUP BY lang, pred_lang
    )
    SELECT declared, predicted, n_docs,
           CAST(n_docs * 1000000 // SUM(n_docs) OVER (
                PARTITION BY declared) AS BIGINT) AS row_share_ppm,
           COALESCE(declared = predicted, FALSE) AS is_correct
    FROM c
    """,
    doc="language-ID confusion matrix: declared vs predicted language "
    "with integer-ppm row shares — the classifier-quality audit over "
    "the text_lang_id heuristic",
)
def corpus_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    declared ``lang`` column — the audit that decides whether a
    classifier is good enough to drive corpus routing (per-language
    precision/recall read straight off these cells).

    Composes the registered ``text_lang_id`` plan (same builder, same
    oracle CTE) and rolls it up; row shares are integer ppm within
    each declared language (floor-ratio, non-negative — engine-safe).

    Scale: the per-doc classification is the pure-expression map from
    ``text_lang_id`` (no shuffle); the rollup shuffles ≤ |langs|²
    cells after map-side combine, and the row-share window runs on
    that cell table.
    """
    p = text_lang_id(spark, sf_dir)
    c = p.groupBy(
        F.col("lang").alias("declared"),
        F.col("pred_lang").alias("predicted"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("declared")
    return c.select(
        "declared",
        "predicted",
        "n_docs",
        F.expr("n_docs * 1000000")
        .alias("_num"),
        F.sum("n_docs").over(w).alias("_den"),
        F.coalesce(
            F.col("declared") == F.col("predicted"), F.lit(False)
        ).alias("is_correct"),
    ).select(
        "declared",
        "predicted",
        "n_docs",
        F.expr("_num div _den").cast("long").alias("row_share_ppm"),
        "is_correct",
    )


def _shingles3(toks):
    from cs_pipeline_spark.operators.dedup import shingles

    return shingles(toks)


def _sql_shingles_3() -> str:
    from cs_pipeline_spark.operators.dedup import _sql_shingles

    return _sql_shingles(_DUCK_TOKENS, 3)


_NOVELTY_ORACLE = (
    "WITH g AS (SELECT d.doc_id, t.g FROM (SELECT doc_id, "
    "list_distinct(" + _sql_shingles_3() + ") AS grams FROM documents) d, "
    "UNNEST(d.grams) AS t(g)), "
    "first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM g GROUP BY g), "
    "per_doc AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, "
    "CAST(COUNT(CASE WHEN f.first_doc = g.doc_id THEN 1 END) AS BIGINT) "
    "AS n_novel FROM g JOIN first_seen f ON f.g = g.g GROUP BY g.doc_id) "
    "SELECT doc_id, n_grams, n_novel, "
    "(FLOOR((CAST(n_novel AS DOUBLE) / n_grams) * 1000000000.0 + 0.5) "
    "/ 1000000000.0) AS novelty_ratio FROM per_doc"
)


@register(
    "text_ngram_novelty",
    _NOVELTY_ORACLE,
    doc="per-doc 3-gram novelty: share of a doc's shingles first seen "
    "at this doc in ingestion order — the streaming-dedup-lite "
    "curation signal (low novelty = mostly recycled text)",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty scoring in ingestion (doc_id) order: a shingle is
    NOVEL for the first document that contains it; a document's
    novelty ratio is the share of its distinct 3-grams it introduced.
    Low-novelty documents are recycled/boilerplate content — the
    per-doc form of the corpus-level ``text_vocab_growth`` curve, and
    a cheap filter that approximates what streaming exact-dedup would
    remove without maintaining dedup state.

    Same first-occurrence scatter as vocab growth: each shingle
    contributes its MIN doc_id once (map-side-combined), then one
    join back tags novel grams — no windowed distinct, no quadratic
    stage. Ratio is one floor-quantized division of exact counts.

    Scale: shuffle 1 = distinct (doc, gram); shuffle 2 = min per
    gram; the tag join is gram-keyed (uniform hash-like keys). In
    production the "order" is ingestion batch id, and first_seen is
    maintained incrementally (MIN is mergeable) — this op is its
    backfill form.
    """
    docs = load(spark, "documents", sf_dir)
    toked = docs.select("doc_id", _tokens(F.expr(_NORM)).alias("toks"))
    g = toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(_shingles3(F.col("toks")))
        ).alias("g"),
    )
    first_seen = g.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        g.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
            ).alias("n_novel"),
        )
    )
    ratio = F.col("n_novel").cast("double") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        (F.floor(ratio * 1000000000.0 + F.lit(0.5)) / 1000000000.0).alias(
            "novelty_ratio"
        ),
    )


_PMI_TOP = 20


_PMI_ORACLE = (
    "WITH toks AS (SELECT doc_id, string_split(" + _NORM_DUCK + ", ' ') "
    "AS t FROM documents), "
    "uni AS (SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks, "
    "UNNEST(toks.t) AS u(tok) WHERE u.tok <> '' GROUP BY u.tok), "
    "bi AS (SELECT b.bg, CAST(COUNT(*) AS BIGINT) AS c FROM toks, "
    "UNNEST(list_transform(range(1, len(toks.t)), i -> "
    "toks.t[i] || ' ' || toks.t[i + 1])) AS b(bg) GROUP BY b.bg), "
    "tot AS (SELECT (SELECT SUM(c) FROM uni) AS nu, "
    "(SELECT SUM(c) FROM bi) AS nb), "
    "top AS (SELECT bg, c FROM (SELECT bg, c, ROW_NUMBER() OVER "
    f"(ORDER BY c DESC, bg) AS rk FROM bi) t WHERE rk <= {_PMI_TOP}) "
    "SELECT top.bg AS bigram, top.c AS n_bigram, "
    "ua.c AS n_first, ub.c AS n_second, "
    "(FLOOR(LN((CAST(top.c AS DOUBLE) / tot.nb) / "
    "((CAST(ua.c AS DOUBLE) / tot.nu) * (CAST(ub.c AS DOUBLE) / tot.nu)))"
    " * 1000000000.0 + 0.5) / 1000000000.0) AS pmi "
    "FROM top "
    "JOIN uni ua ON ua.tok = string_split(top.bg, ' ')[1] "
    "JOIN uni ub ON ub.tok = string_split(top.bg, ' ')[2] "
    "CROSS JOIN tot"
)


@register(
    "text_bigram_pmi",
    _PMI_ORACLE,
    doc=f"collocation mining: top-{_PMI_TOP} adjacent bigrams with "
    "pointwise mutual information from exact unigram/bigram counts — "
    "the phrase-detection step of vocabulary induction",
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations — which adjacent word pairs co-occur far more
    than their unigram frequencies predict: ``PMI = ln(p(ab) /
    (p(a)·p(b)))``. High-PMI, high-count bigrams are the phrases a
    tokenizer/vocabulary-induction pass merges into single units
    (the word2vec phrase trick); the measure also powers keyword and
    named-entity candidate extraction.

    Counts are exact integers (adjacent-position bigrams preserve
    multiplicity — unlike the set-based shingle ops); the single
    transcendental is floor-quantized at 1e-9 per the engine
    convention, computed from exact count ratios.

    Scale: two map-side-combined counts (unigrams, bigrams) over
    per-row generated arrays — no shuffle carries raw text; the
    top-N window and unigram joins run on the (tiny) vocabulary
    tables. This is the canonical first MapReduce example, done in
    two aggregates and zero Python.
    """
    docs = load(spark, "documents", sf_dir)
    toks = docs.select(F.split(F.expr(_NORM), " ").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        toks.select(
            F.explode(
                # size(t) < 2 would make sequence(1, 0) yield [1, 0] and
                # element_at(t, 0) throw — mirror the oracle's empty
                # range(1, 1) with an explicit empty array.
                F.expr(
                    "CASE WHEN size(t) < 2 THEN array() ELSE "
                    "transform(sequence(1, size(t) - 1), i -> "
                    "concat(element_at(t, i), ' ', element_at(t, i + 1))) "
                    "END"
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = F.broadcast(
        uni.agg(F.sum("c").alias("nu")).crossJoin(
            bi.agg(F.sum("c").alias("nb"))
        )
    )
    # top-N via orderBy+limit → TakeOrderedAndProject (per-partition
    # heap, no single-partition rank window over the bigram vocab)
    top = bi.orderBy(F.desc("c"), F.asc("bg")).limit(_PMI_TOP)
    ua = uni.select(
        F.col("tok").alias("_ta"), F.col("c").alias("n_first")
    )
    ub = uni.select(
        F.col("tok").alias("_tb"), F.col("c").alias("n_second")
    )
    j = (
        top.withColumn("_ta", F.expr("split(bg, ' ')[0]"))
        .withColumn("_tb", F.expr("split(bg, ' ')[1]"))
        .join(F.broadcast(ua), "_ta")
        .join(F.broadcast(ub), "_tb")
        .crossJoin(tot)
    )
    pmi = F.log(
        (F.col("c").cast("double") / F.col("nb"))
        / (
            (F.col("n_first").cast("double") / F.col("nu"))
            * (F.col("n_second").cast("double") / F.col("nu"))
        )
    )
    return j.select(
        F.col("bg").alias("bigram"),
        F.col("c").cast("long").alias("n_bigram"),
        F.col("n_first").cast("long").alias("n_first"),
        F.col("n_second").cast("long").alias("n_second"),
        (F.floor(pmi * 1000000000.0 + F.lit(0.5)) / 1000000000.0).alias(
            "pmi"
        ),
    )


_ZIPF_TOP = 30  # fit over the top-N ranks (the Zipf regime)


_ZIPF_ORACLE = (
    "WITH uni AS (SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS c "
    "FROM (SELECT string_split(" + _NORM_DUCK + ", ' ') AS t "
    "FROM documents) toks, UNNEST(toks.t) AS u(tok) "
    "WHERE u.tok <> '' GROUP BY u.tok), "
    "rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r "
    f"FROM uni QUALIFY r <= {_ZIPF_TOP}), "
    "q AS (SELECT CAST(FLOOR(LN(CAST(r AS DOUBLE)) * 1000000.0 + 0.5) "
    "AS BIGINT) AS lx, "
    "CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) "
    "AS ly FROM rk), "
    "m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, "
    "SUM(CAST(lx AS HUGEINT)) AS sx, SUM(CAST(ly AS HUGEINT)) AS sy, "
    "SUM(CAST(lx AS HUGEINT) * CAST(ly AS HUGEINT)) AS sxy, "
    "SUM(CAST(lx AS HUGEINT) * CAST(lx AS HUGEINT)) AS sxx FROM q) "
    "SELECT CAST(n AS BIGINT) AS n_ranks, "
    "CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE "
    "(FLOOR((CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) "
    "/ CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)) "
    "* 1000000.0 + 0.5) / 1000000.0) END AS zipf_slope "
    "FROM m"
)


@register(
    "text_zipf_fit",
    _ZIPF_ORACLE,
    doc=f"Zipf's-law fit: log-log OLS slope of frequency vs rank over "
    f"the top {_ZIPF_TOP} tokens (≈ −1 for natural text) — the "
    "frequency-distribution twin of the Heaps vocab-growth curve",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent: regress ln(frequency) on ln(rank) over the top
    ranks; natural language sits near slope −1, while synthetic or
    boilerplate-dominated corpora flatten or steepen — the
    distributional health check read together with Heaps' law
    (``text_vocab_growth``) when validating a corpus or a sampler.

    Numeric discipline: both logs are floor-quantized to the 1e-6
    integer grid FIRST; the OLS moments (n·Σxy − Σx·Σy etc.) are then
    exact integer sums (the ``agg_linear_trend`` pattern), so the
    slope is one double division of two exactly-equal numerators in
    both engines.

    Scale: one map-side-combined unigram count, a top-N window on
    the vocabulary table, and a 1-row moment aggregate.
    """
    docs = load(spark, "documents", sf_dir)
    uni = (
        docs.select(F.explode(F.split(F.expr(_NORM), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window as _W

    # limit FIRST (TakeOrderedAndProject — per-partition heap), then
    # rank the ≤_ZIPF_TOP survivors: the unpartitioned window only
    # ever sees the top-N vocabulary rows
    rk = uni.orderBy(F.desc("c"), F.asc("tok")).limit(_ZIPF_TOP).withColumn(
        "r",
        F.row_number().over(
            _W.partitionBy(one_part("c")).orderBy(F.desc("c"), F.asc("tok"))
        )
    )
    q = rk.select(
        F.floor(F.log(F.col("r").cast("double")) * 1000000.0 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("lx"),
        F.floor(F.log(F.col("c").cast("double")) * 1000000.0 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("ly"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "string"
    ).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "string"
    ).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.when(
            den != 0.0,
            F.floor((num / den) * 1000000.0 + F.lit(0.5)) / 1000000.0,
        ).alias("zipf_slope"),
    )


# stylometry: per-source function-word usage profile → pairwise cosine
_STYLE_WORDS = _STOPWORDS[:10]


def _style_sql() -> str:
    cases = ", ".join(
        f"CAST(SUM(CASE WHEN tok = '{w}' THEN 1 ELSE 0 END) * 1000000 "
        f"// MAX(nt) AS BIGINT) AS p{i}"
        for i, w in enumerate(_STYLE_WORDS)
    )
    dot = " + ".join(f"a.p{i} * b.p{i}" for i in range(len(_STYLE_WORDS)))
    na = " + ".join(f"a.p{i} * a.p{i}" for i in range(len(_STYLE_WORDS)))
    nb = " + ".join(f"b.p{i} * b.p{i}" for i in range(len(_STYLE_WORDS)))
    return f"""
    WITH toks AS (
      SELECT source, tok FROM (
        SELECT source,
               unnest(string_split({_NORM_DUCK}, ' ')) AS tok
        FROM documents) t
      WHERE tok <> ''
    ),
    wt AS (
      SELECT source, tok,
             COUNT(*) OVER (PARTITION BY source) AS nt
      FROM toks
    ),
    prof AS (
      SELECT source, {cases}
      FROM wt GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           FLOOR(CAST({dot} AS DOUBLE)
                 / SQRT(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS style_cosine
    FROM prof a JOIN prof b ON a.source < b.source
    """


@register(
    "text_style_fingerprint",
    _style_sql(),
    doc="stylometric source fingerprinting: 10-dim function-word "
    "usage profiles (integer ppm) compared pairwise by cosine — the "
    "authorship/template-drift detector (near-identical profiles "
    "suggest shared boilerplate or a duplicated pipeline source)",
)
def text_style_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stylometry at the source level: function words (the classic
    authorship signal — content-independent, high-frequency) are
    counted per source into an integer-ppm profile vector, and every
    source pair gets a profile cosine. Sources with suspiciously
    similar fingerprints share templating/boilerplate (dedup them at
    the span level); a source whose fingerprint drifts between
    snapshots changed its upstream generator.

    Determinism: profiles are integer ppm of exact counts; the cosine
    is one float expression over exact integers, quantized at 1e-9.

    Scale: one token pass map-side-combined into |sources| profile
    rows; the pairwise stage is |sources|² on a dimension-sized
    table — never touches the corpus again. (The per-source token
    total rides a window keyed the same as the groupBy — one
    exchange.)
    """
    docs = load(spark, "documents", sf_dir)
    toks = (
        docs.select(
            "source",
            F.explode(F.split(F.expr(_NORM), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    from pyspark.sql.window import Window as _W

    wt = toks.select(
        "source",
        "tok",
        F.count(F.lit(1)).over(_W.partitionBy("source")).alias("nt"),
    )
    prof = wt.groupBy("source").agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN tok = '{w}' THEN 1 ELSE 0 END) "
                f"* 1000000 div max(nt) AS LONG)"
            ).alias(f"p{i}")
            for i, w in enumerate(_STYLE_WORDS)
        ]
    )
    a = prof.select(
        F.col("source").alias("source_a"),
        *[F.col(f"p{i}").alias(f"a{i}") for i in range(len(_STYLE_WORDS))],
    )
    b = prof.select(
        F.col("source").alias("source_b"),
        *[F.col(f"p{i}").alias(f"b{i}") for i in range(len(_STYLE_WORDS))],
    )
    dot = sum(
        (F.col(f"a{i}") * F.col(f"b{i}") for i in range(len(_STYLE_WORDS))),
        F.lit(0),
    )
    na = sum(
        (F.col(f"a{i}") * F.col(f"a{i}") for i in range(len(_STYLE_WORDS))),
        F.lit(0),
    )
    nb = sum(
        (F.col(f"b{i}") * F.col(f"b{i}") for i in range(len(_STYLE_WORDS))),
        F.lit(0),
    )
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    return pairs.select(
        "source_a",
        "source_b",
        (
            F.floor(
                dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("style_cosine"),
    )


_CODE_KEYWORDS = (
    "def", "return", "import", "class", "function", "var", "const",
    "if", "else", "for", "while",
)


@register(
    "text_code_detect",
    f"""
    WITH s AS (
      SELECT doc_id,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text,
               '[{{}}();=<>\\[\\]]', '', 'g')) AS n_symbols,
             {_sql_hits(_DUCK_TOKENS, _CODE_KEYWORDS)} AS kw_hits,
             len(regexp_extract_all(text, '[a-z][A-Z]')) AS camel_hits,
             len(regexp_extract_all(lower(text), '[a-z]+_[a-z]+'))
               AS snake_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN n_chars = 0 THEN NULL
                ELSE n_symbols * 1000000 // n_chars END AS BIGINT)
             AS symbol_ppm,
           CAST(kw_hits AS BIGINT) AS kw_hits,
           CAST(camel_hits + snake_hits AS BIGINT) AS ident_hits,
           COALESCE(CASE WHEN n_chars = 0 THEN NULL
                    ELSE n_symbols * 1000000 // n_chars > 20000 END
                    OR (kw_hits >= 2 AND camel_hits + snake_hits >= 2),
                    FALSE) AS looks_like_code
    FROM s
    """,
    doc="code-vs-prose detection: bracket/operator symbol density, "
    "programming-keyword hits, camelCase/snake_case identifier "
    "counts → per-doc verdict — the corpus router that keeps code "
    "out of (or routes it into) the right training mixture",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code detection — the routing decision every LLM corpus makes
    (code is gold for a code mixture and noise in a prose-quality
    filter: its symbol density fails Gopher-style heuristics). Three
    cheap orthogonal signals: structural symbol density (brackets,
    operators — integer ppm of exact counts), language-keyword token
    hits, and identifier-convention matches (camelCase on the RAW
    text — lowercase normalization destroys it — plus snake_case).
    The verdict ORs a high-symbol path with a keywords+identifiers
    path, so neither mathematical prose (symbols, no identifiers)
    nor code-discussing prose (keywords, no symbols) false-fires
    alone.

    Scale: pure per-row regexp counting fused with the scan — zero
    shuffle, the text_stats family shape.
    """
    docs = load(spark, "documents", sf_dir)
    kw = _hits(_tokens(F.expr(_NORM)), _CODE_KEYWORDS)
    camel = F.regexp_count("text", F.lit("[a-z][A-Z]"))
    snake = F.regexp_count(F.lower("text"), F.lit("[a-z]+_[a-z]+"))
    return docs.select(
        "doc_id",
        F.expr(
            "CAST(CASE WHEN length(text) = 0 THEN NULL ELSE "
            "(length(text) - length(regexp_replace(text, "
            "'[{}();=<>\\\\[\\\\]]', ''))) * 1000000 div length(text) "
            "END AS LONG)"
        ).alias("symbol_ppm"),
        kw.cast("long").alias("kw_hits"),
        (camel + snake).cast("long").alias("ident_hits"),
        F.coalesce(
            (
                F.expr(
                    "CASE WHEN length(text) = 0 THEN NULL ELSE "
                    "(length(text) - length(regexp_replace(text, "
                    "'[{}();=<>\\\\[\\\\]]', ''))) * 1000000 "
                    "div length(text) END"
                )
                > 20000
            )
            | ((kw >= 2) & ((camel + snake) >= 2)),
            F.lit(False),
        ).alias("looks_like_code"),
    )


@register(
    "text_tokenizer_fertility",
    f"""
    WITH t AS (
      SELECT lang,
             CAST(len({_DUCK_TOKENS}) AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all({_NORM_DUCK}, '{_BPE_RE}'))
                  AS BIGINT) AS bpe_tokens
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
           CAST(SUM(bpe_tokens) * 1000000 // SUM(ws_tokens) AS BIGINT)
             AS fertility_ppm
    FROM t GROUP BY lang
    """,
    doc="tokenizer fertility per language: subword-to-word ratio "
    "(BPE-ish regex tokens per whitespace word, integer ppm) — the "
    "multilingual-equity metric; a language with 2x fertility pays "
    "2x context window and 2x compute for the same content",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility — how many subword tokens the tokenizer spends per
    word, by language. High-fertility languages are systematically
    disadvantaged (fewer effective words per context window, higher
    serving cost per sentence), so corpus mixers
    (``corpus_temperature_mix``) and tokenizer-retraining decisions
    both read this table. Counts are exact regexp/token integers;
    the ratio is one integer-ppm division per language.

    Scale: pure per-row counting fused with the scan, then a
    map-side-combined groupBy(lang) — O(langs) output at any corpus
    size.
    """
    docs = load(spark, "documents", sf_dir)
    norm = F.expr(_NORM)
    t = docs.select(
        "lang",
        F.size(_tokens(norm)).cast("long").alias("ws_tokens"),
        F.regexp_count(norm, F.lit(_BPE_RE)).cast("long").alias(
            "bpe_tokens"
        ),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("ws_tokens"),
        F.sum("bpe_tokens").cast("long").alias("bpe_tokens"),
        F.expr("sum(bpe_tokens) * 1000000 div sum(ws_tokens)")
        .cast("long")
        .alias("fertility_ppm"),
    )


# ---------- BPE tokenizer training (merge-pair statistics) ----------
#
# Byte-pair-encoding training (Sennrich et al. 2016) is an iterative
# count-adjacent-symbol-pairs → merge-argmax loop over word TYPES
# weighted by frequency. Both steps are pure relational algebra: the
# pair count is a map-side-combined aggregate over exploded adjacent
# pairs, and applying a merge is a string rewrite on the spaced symbol
# form. These two ops are one full iteration of the loop, run in-engine.

_BPE_TOPN = 20


def _word_counts(docs: DataFrame) -> DataFrame:
    """Word-type frequencies: the BPE corpus representation (symbol
    work scales with DISTINCT words, not corpus tokens)."""
    return (
        docs.select(F.explode(_tokens(F.expr(_NORM))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wn"))
    )


_BPE_WC_SQL = f"""
    w AS (SELECT unnest(string_split({_NORM_DUCK}, ' ')) AS w
          FROM documents),
    wc AS (SELECT w, COUNT(*) AS wn FROM w
           WHERE length(w) >= 2 GROUP BY w)
"""

_BPE_PAIR_SQL = """
    p AS (SELECT wn, unnest(list_transform(range(1, length(w)),
            i -> substr(w, CAST(i AS INT), 1) || ' ' ||
                 substr(w, CAST(i AS INT) + 1, 1))) AS pair
          FROM wc)
"""


@register(
    "text_bpe_pair_stats",
    f"""
    WITH {_BPE_WC_SQL}, {_BPE_PAIR_SQL}
    SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair LIMIT {_BPE_TOPN}
    """,
    doc=f"BPE tokenizer training, find step: top-{_BPE_TOPN} adjacent "
    "character-pair frequencies over word types weighted by word "
    "frequency (Sennrich et al. 2016) — the merge-candidate table of "
    "one training iteration, exact integer counts",
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE find step: count adjacent symbol pairs over word types.

    Plan: words aggregate once (map-side combined — pair generation
    runs over DISTINCT words, the Zipf head, not corpus tokens), pairs
    explode from an index sequence (1-based substring, both engines),
    top-N via orderBy().limit() → TakeOrderedAndProject. Ties break on
    the pair string — deterministic.

    Scale: pair cardinality is ≤ alphabet², the word-type table is
    Zipf-bounded; nothing here grows with corpus rows except the one
    word-count shuffle. The 100 TB path is identical.
    """
    wc = _word_counts(load(spark, "documents", sf_dir))
    pair_arr = F.expr(
        "transform(sequence(1, length(w) - 1), "
        "i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
    )
    return (
        wc.select(F.explode(pair_arr).alias("pair"), "wn")
        .groupBy("pair")
        .agg(F.sum("wn").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOPN)
    )


@register(
    "text_bpe_merge_apply",
    f"""
    WITH {_BPE_WC_SQL}, {_BPE_PAIR_SQL},
    top1 AS (SELECT pair AS merged FROM (
        SELECT pair, SUM(wn) AS n FROM p GROUP BY pair
        ORDER BY n DESC, pair LIMIT 1)),
    sp AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS spaced,
           wn FROM wc),
    m AS (SELECT t.merged,
          string_split(replace(spaced, t.merged,
                               replace(t.merged, ' ', '')), ' ') AS syms,
          wn
          FROM sp CROSS JOIN top1 t),
    np AS (SELECT merged, wn,
           unnest(list_transform(range(1, greatest(len(syms) - 1, 0) + 1),
             i -> syms[CAST(i AS INT)] || ' ' ||
                  syms[CAST(i AS INT) + 1])) AS pair
           FROM m)
    SELECT merged, pair, CAST(SUM(wn) AS BIGINT) AS n
    FROM np GROUP BY merged, pair
    ORDER BY n DESC, pair LIMIT 10
    """,
    doc="BPE tokenizer training, merge step: apply the argmax pair "
    "(leftmost non-overlapping, the BPE greedy rule) to every word "
    "type and emit the next iteration's top-10 pair counts — symbols "
    "are now mixed-width, proving the loop closes",
)
def text_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE iteration: find the argmax pair, rewrite every
    word's spaced symbol form with the merged token (string replace =
    leftmost non-overlapping application, exactly the BPE greedy
    rule), and recount adjacent pairs over the new mixed-width
    symbols.

    The argmax is a 1-row broadcast; the rewrite is expression-side
    string work per word TYPE. Further iterations repeat this op's
    shape with the merge table growing by one row per step — the
    training ops run k rounds through ``_merge_train``.

    Scale: same bounds as text_bpe_pair_stats — word types, not
    corpus tokens; the only new stage is a 1-row broadcast join.
    """
    wc = _word_counts(load(spark, "documents", sf_dir))
    pair_arr = F.expr(
        "transform(sequence(1, length(w) - 1), "
        "i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
    )
    top1 = (
        wc.select(F.explode(pair_arr).alias("pair"), "wn")
        .groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
        .select(F.col("pair").alias("merged"))
    )
    m = (
        wc.crossJoin(F.broadcast(top1))
        .select(
            "merged",
            "wn",
            F.split(
                F.expr(
                    "replace(trim(regexp_replace(w, '(.)', '$1 ')), "
                    "merged, replace(merged, ' ', ''))"
                ),
                " ",
            ).alias("syms"),
        )
        .filter(F.size("syms") >= 2)
    )
    new_pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"
    )
    return (
        m.select("merged", F.explode(new_pairs).alias("pair"), "wn")
        .groupBy("merged", "pair")
        .agg(F.sum("wn").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(10)
    )


# ---------- BPE / WordPiece merge training (one loop, two argmaxes) ----------
#
# Training repeats the find/merge pair of the two ops above. Word types
# are carried between rounds as sentinel-wrapped, double-space-separated
# symbol strings (``' a  b  c '``): the search pattern ``' a  b '`` can
# only match whole adjacent symbols (never the tail of a longer symbol
# like ``ter``), and the single-space replacement ``' ab '`` restores
# both separators, so adjacent occurrences sharing a boundary still
# merge in one leftmost-non-overlapping pass — exactly the BPE greedy
# rule. The helpers below are the only code that spells this format
# (tests/test_tokenizer_guard.py keeps it that way).

_SPACED_SQL = "' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '"


def _spaced(w: Column) -> Column:
    """Word → spaced symbol string (one symbol per character)."""
    return F.concat(
        F.lit(" "), F.trim(F.regexp_replace(w, "(.)", "$1  ")), F.lit(" ")
    )


def _symbols(s: Column) -> Column:
    """Spaced symbol string → its symbol list."""
    return F.split(F.trim(s), "  ")


def _merge(s: Column, pair: str) -> Column:
    """Apply the learned merge ``pair`` ('a b') as literal patterns."""
    return F.replace(
        s,
        F.lit(" " + pair.replace(" ", "  ") + " "),
        F.lit(" " + pair.replace(" ", "") + " "),
    )


def _merge_sql(s: str, pair: str) -> str:
    """Oracle form of ``_merge``; ``pair`` is a SQL expression."""
    return (
        f"replace({s}, ' ' || replace({pair}, ' ', '  ') || ' ', "
        f"' ' || replace({pair}, ' ', '') || ' ')"
    )


def _pair_counts(sp: DataFrame) -> DataFrame:
    """(pair, n): adjacent-symbol pairs of the spaced strings ``s``,
    counted over word types weighted by ``wn``."""
    pair_arr = F.expr(
        "transform(sequence(1, greatest("
        "size(split(trim(s), '  ')) - 1, 1)), "
        "i -> concat(element_at(split(trim(s), '  '), i), ' ', "
        "element_at(split(trim(s), '  '), i + 1)))"
    )
    return (
        sp.filter(F.size(_symbols(F.col("s"))) >= 2)
        .select(F.explode(pair_arr).alias("pair"), "wn")
        .groupBy("pair")
        .agg(F.sum("wn").cast("long").alias("n"))
    )


def _pair_cte_sql(k: int, src: str) -> str:
    """Oracle form of ``_pair_counts`` before the aggregate: CTE
    ``p{k}`` of (wn, pair) rows exploded from ``src``."""
    return (
        f"p{k} AS (SELECT wn, unnest(list_transform("
        "range(1, greatest(len(string_split(trim(s), '  ')) - 1, 0) + 1),"
        " i -> string_split(trim(s), '  ')[CAST(i AS INT)] || ' ' ||"
        " string_split(trim(s), '  ')[CAST(i AS INT) + 1])) AS pair"
        f" FROM {src})"
    )


def _merge_train(
    spark: SparkSession,
    sf_dir: str,
    n_rounds: int,
    rank: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """The tokenizer merge-training loop, for BPE and WordPiece: per
    round, count adjacent symbol pairs, collect the top row of
    ``rank(sp, pairs)`` — the algorithm's argmax over the (pair, n)
    counts — and rewrite every word type with that merge as literal
    patterns. The pick is one bounded row, so the merge table comes
    back as a literal relation: no action re-runs a round.

    Each rewritten frame is cut with ``localCheckpoint``: the next
    round's jobs (one pick; WordPiece's score join reads the frame a
    second time for symbol counts) then read the stored symbol
    strings instead of re-running the word-count shuffle and every
    earlier rewrite (depth 8 at sf0.1 on 4 cores: 1.8–2.0 s with the
    cut, 6.6–7.0 s without). A round with no pair left ends training — the
    oracle's cross join with an empty pick empties every later round.

    Columns: ``step, merged`` then ``rank``'s columns after ``pair``.
    """
    wc = _word_counts(load(spark, "documents", sf_dir))
    sp = wc.select(_spaced(F.col("w")).alias("s"), "wn")
    rows: list[tuple] = []
    for step in range(1, n_rounds + 1):
        ranked = rank(sp, _pair_counts(sp))
        top = ranked.limit(1).collect()
        if not top:
            break
        rows.append((step, *top[0]))
        if step < n_rounds:
            sp = sp.select(
                _merge(F.col("s"), top[0]["pair"]).alias("s"), "wn"
            ).localCheckpoint(eager=False)
    more = "".join(f", {c} long" for c in ranked.columns[1:])
    return literal_df(spark, rows, "step long, merged string" + more)


def _merge_train_sql(
    n_rounds: int, rank_sql: Callable[[int], list[str]]
) -> str:
    """The loop's oracle: one sp/p/t CTE chain per round.
    ``rank_sql(k)`` gives the CTEs that pick round k's pair from
    ``p{k}`` (and ``sp{k-1}``); the last is ``t{k}``, one row (pair,
    n, …). Every intermediate is AS MATERIALIZED (the graph_k_core
    rule): DuckDB otherwise inlines each round's CTE into BOTH its
    downstream references and the chain re-derives 2^n times."""
    ctes = [
        _BPE_WC_SQL,
        f"sp0 AS MATERIALIZED (SELECT {_SPACED_SQL} AS s, wn FROM wc)",
    ]
    for k in range(1, n_rounds + 1):
        ctes += [_pair_cte_sql(k, f"sp{k - 1}"), *rank_sql(k)]
        if k < n_rounds:
            ctes.append(
                f"sp{k} AS MATERIALIZED (SELECT "
                f"{_merge_sql('s', f't{k}.pair')} AS s, wn "
                f"FROM sp{k - 1}, t{k})"
            )
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, pair AS merged, "
        f"* EXCLUDE (pair) FROM t{k}"
        for k in range(1, n_rounds + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + union


def _bpe_rank(sp: DataFrame, pairs: DataFrame) -> DataFrame:
    """BPE's argmax: the most frequent pair, ties → pair asc."""
    return pairs.orderBy(F.desc("n"), "pair")


def _bpe_rank_sql(k: int) -> list[str]:
    return [
        f"t{k} AS MATERIALIZED (SELECT pair, CAST(SUM(wn) AS BIGINT) AS n "
        f"FROM p{k} GROUP BY pair ORDER BY n DESC, pair LIMIT 1)"
    ]


_BPE_TRAIN_N = 8


@register(
    "text_bpe_train3",
    _merge_train_sql(3, _bpe_rank_sql),
    doc="BPE tokenizer training, 3 full iterations in-engine: the "
    "ordered merge table (step, merged pair, frequency at selection "
    "time) — mixed-width symbols round 2+, boundary-safe rewrite "
    "(double-space separators + sentinels so a merged token can never "
    "match the tail of a longer symbol)",
)
def text_bpe_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE training iterations (Sennrich et al. 2016), the loop
    the single-step ops unroll, run by ``_merge_train`` with the
    count argmax (n desc, pair asc): mixed-width symbols from round 2
    on, the boundary-safe rewrite described above this section.

    Scale: all state is word TYPES (Zipf-bounded) × a ≤3-row merge
    table; pair counting is one map-side-combined aggregate per round.
    Real BPE training (k≈30000 merges) runs this exact shape with the
    merge table growing by one row per round.
    """
    return _merge_train(spark, sf_dir, 3, _bpe_rank)


@register(
    "text_bpe_train8",
    _merge_train_sql(_BPE_TRAIN_N, _bpe_rank_sql),
    doc=f"BPE tokenizer training, {_BPE_TRAIN_N} full iterations "
    "in-engine via the depth-general loop (VERDICT r6 item 6): the "
    "ordered merge table at depth 8; each round reads its "
    "predecessor's stored symbol strings (localCheckpoint / "
    "AS MATERIALIZED), so no round re-derives earlier ones",
)
def text_bpe_train8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight BPE training iterations — ``text_bpe_train3`` at depth
    8 through the same loop (``_merge_train``). The semantics per
    round are identical; what this op adds is the DEPTH contract:
    plan node count and oracle CTE count grow LINEARLY in the round
    count — tests/test_bpe_depth.py pins linearity and proves the
    8-round merge table's first 3 rows equal text_bpe_train3.

    Scale: unchanged from train3 — all state is word TYPES
    (Zipf-bounded) × a ≤8-row merge table; real training (k ≈ 30000
    merges) runs this exact loop. SCALE.md records the measured plan
    growth at depth 8.
    """
    return _merge_train(spark, sf_dir, _BPE_TRAIN_N, _bpe_rank)


# a word's spaced string after text_bpe_train3's merges, in step order
_BPE_ENC_SQL = reduce(
    _merge_sql, ("m1.merged", "m2.merged", "m3.merged"), _SPACED_SQL
)


@register(
    "text_bpe_encode",
    f"""
    WITH {_BPE_WC_SQL},
    btr AS MATERIALIZED ({_merge_train_sql(3, _bpe_rank_sql)}),
    enc AS (SELECT w, len(string_split(trim({_BPE_ENC_SQL}), '  '))
              AS n_syms
            FROM wc, btr m1, btr m2, btr m3
            WHERE m1.step = 1 AND m2.step = 2 AND m3.step = 3),
    wl AS (SELECT lang, unnest(string_split({_NORM_DUCK}, ' ')) AS w
           FROM documents),
    wlc AS (SELECT lang, w, COUNT(*) AS wnl FROM wl
            WHERE length(w) >= 2 GROUP BY lang, w)
    SELECT lang,
           CAST(SUM(wlc.wnl) AS BIGINT) AS n_words,
           CAST(SUM(length(wlc.w) * wlc.wnl) AS BIGINT) AS n_char_tokens,
           CAST(SUM(enc.n_syms * wlc.wnl) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM((length(wlc.w) - enc.n_syms) * wlc.wnl) * 1000000
                // SUM(length(wlc.w) * wlc.wnl) AS BIGINT) AS saved_ppm
    FROM wlc JOIN enc ON wlc.w = enc.w
    GROUP BY lang
    """,
    doc="BPE encode step: apply text_bpe_train3's 3 learned merges "
    "(derived by reference) to every word type, then per-language "
    "tokenization stats — char-level vs BPE token counts and the "
    "integer-ppm compression the merges buy; the encode side of the "
    "tokenizer-training loop",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE audited per language: take the 3-merge table
    BY REFERENCE (Spark collects the registered memoized
    ``text_bpe_train3``; the oracle embeds its registered SQL), apply
    the merges in step order to every word type as literal rewrites,
    and join each word type's final symbol count onto per-language
    word counts. Output: words, char-level tokens, BPE tokens, and
    saved_ppm — the compression/fertility readout a tokenizer-training
    loop monitors per language (merges trained on a global corpus
    compress languages unevenly; this op is the audit that shows it).
    A training run that stopped before 3 merges encodes nothing: the
    oracle cross-joins steps 1–3, so both sides return 0 rows.

    Scale: the merges are 3 literal string rewrites per word TYPE;
    the encode join is word-type × language (Zipf-bounded both sides)
    and the final aggregate is map-side combined to |langs| rows.
    Products route through SUM-then-multiply ppm with // (HUGEINT in
    DuckDB, decimal(38,0) on Spark) — overflow-safe at corpus scale.
    """
    merges = [
        r["merged"] for r in sorted(text_bpe_train3(spark, sf_dir).collect())
    ]
    docs = load(spark, "documents", sf_dir)
    enc = _word_counts(docs).select(
        "w",
        F.size(_symbols(reduce(_merge, merges, _spaced(F.col("w"))))).alias(
            "n_syms"
        ),
    )
    if len(merges) < 3:
        enc = enc.limit(0)
    wlc = (
        docs.select("lang", F.explode(_tokens(F.expr(_NORM))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("wnl"))
    )
    j = wlc.join(enc, "w")
    return j.groupBy("lang").agg(
        F.sum("wnl").cast("long").alias("n_words"),
        F.sum(F.length("w") * F.col("wnl")).cast("long").alias("n_char_tokens"),
        F.sum(F.col("n_syms") * F.col("wnl")).cast("long").alias("n_bpe_tokens"),
        F.expr(
            "cast(cast(sum((length(w) - n_syms) * wnl) as decimal(38,0)) "
            "* 1000000 div sum(length(w) * wnl) as bigint)"
        ).alias("saved_ppm"),
    )


# ---------- vocabulary coverage curve (tokenizer sizing) ----------

_VC_TARGETS = (50, 90, 95, 99)  # percent of corpus token mass


@register(
    "text_vocab_coverage",
    f"""
    WITH {_BPE_WC_SQL},
    r AS (SELECT w, wn,
          ROW_NUMBER() OVER (ORDER BY wn DESC, w) AS rk,
          SUM(wn) OVER (ORDER BY wn DESC, w
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(wn) OVER () AS tot,
          COUNT(*) OVER () AS vocab
          FROM wc),
    t AS (SELECT unnest([{", ".join(str(t) for t in _VC_TARGETS)}]) AS pct)
    SELECT CAST(t.pct AS BIGINT) AS pct,
           CAST(MIN(r.rk) AS BIGINT) AS vocab_size,
           CAST(MAX(r.vocab) AS BIGINT) AS vocab_total,
           CAST(MIN(r.rk) * 1000000 // MAX(r.vocab) AS BIGINT)
             AS vocab_frac_ppm
    FROM t JOIN r ON r.cum * 100 >= t.pct * r.tot
    GROUP BY t.pct
    """,
    doc="vocabulary coverage curve: smallest frequency-ranked vocab "
    "covering 50/90/95/99% of corpus token mass (Zipf head sizing — "
    "the 'how big must the tokenizer vocab be' table), exact integer "
    "rank/mass arithmetic",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab sizing: rank word types by frequency, take the
    running mass, and for each coverage target report the smallest
    rank whose cumulative mass reaches pct% of the corpus — the
    Zipf-head curve that decides vocab size (text_vocab_growth is the
    Heaps-law twin: new types vs corpus size; this is mass vs rank).

    The rank and running sum come from the two-phase helpers
    (``with_total_rank`` + ``with_prefix_agg`` over one shared order)
    — no single-executor sort of the vocabulary; the coverage
    threshold `cum·100 ≥ pct·tot` is exact integer arithmetic, and
    the 4-target argmin is a tiny aggregate.

    Scale: vocabulary is Zipf-bounded (≪ corpus); one bucketed rank
    pass + one broadcast of the 4 targets.
    """
    wc = _word_counts(load(spark, "documents", sf_dir))
    from cs_pipeline_spark.operators.helpers import (
        with_prefix_agg,
        with_total_rank,
    )

    # shared total order: wn desc, w asc ⇔ (-wn) asc, w asc
    neg = wc.select("w", "wn", (-F.col("wn")).alias("nwn"))
    ranked = with_total_rank(neg, "nwn", (F.col("w"),), rn="rk", nn="vocab")
    cum = with_prefix_agg(
        ranked, "nwn", (F.col("w"),), "wn", kind="sum", out="cum"
    )
    tot = wc.agg(F.sum("wn").cast("long").alias("tot"))
    targets = literal_df(spark, [(t,) for t in _VC_TARGETS], "pct long")
    j = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(targets))
        .filter(F.col("cum") * 100 >= F.col("pct") * F.col("tot"))
    )
    return j.groupBy("pct").agg(
        F.min("rk").cast("long").alias("vocab_size"),
        F.max("vocab").cast("long").alias("vocab_total"),
        F.expr(
            "cast(cast(min(rk) as decimal(38,0)) * 1000000 "
            "div max(vocab) as bigint)"
        ).alias("vocab_frac_ppm"),
    ).select(F.col("pct").cast("long").alias("pct"), "vocab_size", "vocab_total", "vocab_frac_ppm")


# ---------- Good-Turing frequency-of-frequencies / missing mass ----------


@register(
    "text_good_turing",
    f"""
    WITH w AS (SELECT unnest(string_split({_NORM_DUCK}, ' ')) AS w
               FROM documents),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w
           WHERE w <> '' GROUP BY w),
    ff AS (SELECT c AS freq, CAST(COUNT(*) AS BIGINT) AS n_types
           FROM wc GROUP BY c),
    tot AS (SELECT CAST(SUM(freq * n_types) AS BIGINT) AS n_tokens,
            CAST(SUM(n_types) AS BIGINT) AS n_vocab,
            CAST(MAX(CASE WHEN freq = 1 THEN n_types ELSE 0 END)
                 AS BIGINT) AS n1
            FROM ff)
    SELECT ff.freq, ff.n_types,
           CAST(t.n1 * 1000000 // t.n_tokens AS BIGINT)
             AS missing_mass_ppm,
           CAST(ff.n_types * 1000000 // t.n_vocab AS BIGINT)
             AS type_share_ppm
    FROM ff CROSS JOIN tot t
    ORDER BY ff.freq LIMIT 20
    """,
    doc="Good-Turing frequency-of-frequencies: how many word types "
    "occur exactly c times, plus the missing-mass estimate "
    "P(unseen) = N1/N in integer ppm — the smoothing table every "
    "n-gram LM and species-richness estimator starts from",
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-of-counts table: N_c = |{{types seen exactly c
    times}}| and the Good-Turing leave-one-out identity P(next token
    is unseen) = N₁/N — the missing-mass estimate that tells a corpus
    builder how much vocabulary the crawl hasn't reached yet (rising
    N₁ share ⇒ keep crawling). All exact integer counts and
    truncating ppm ratios; the first 20 frequency rows carry
    essentially all smoothing information (Zipf).

    Scale: two map-side-combined aggregates (word counts → count
    counts); the frequency table is tiny regardless of corpus size.
    """
    wc = (
        load(spark, "documents", sf_dir)
        .select(F.explode(_tokens(F.expr(_NORM))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ff = pin(
        wc.groupBy(F.col("c").alias("freq")).agg(
            F.count(F.lit(1)).cast("long").alias("n_types")
        )
    )
    tot = ff.agg(
        F.sum(F.col("freq") * F.col("n_types")).cast("long").alias(
            "n_tokens"
        ),
        F.sum("n_types").cast("long").alias("n_vocab"),
        F.max(F.when(F.col("freq") == 1, F.col("n_types")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    return (
        ff.crossJoin(F.broadcast(tot))
        .select(
            "freq",
            "n_types",
            F.expr(
                "cast(cast(n1 as decimal(38,0)) * 1000000 div n_tokens "
                "as bigint)"
            ).alias("missing_mass_ppm"),
            F.expr(
                "cast(cast(n_types as decimal(38,0)) * 1000000 "
                "div n_vocab as bigint)"
            ).alias("type_share_ppm"),
        )
        .orderBy("freq")
        .limit(20)
    )


# ---------- RAKE keyword extraction ----------

_RAKE_TOP = 15
_RAKE_MAXLEN = 3
# Python-API regex (F.regexp_replace takes the pattern directly —
# "\\b" here; the quadruple-backslash form is only for SQL strings)
_RAKE_STOP_RE = "\\b(" + "|".join(_STOPWORDS) + ")\\b"
_RAKE_STOP_RE_DUCK = "\\b(" + "|".join(_STOPWORDS) + ")\\b"


@register(
    "text_rake_keywords",
    f"""
    WITH frags AS (
      SELECT unnest(list_filter(
               list_transform(
                 string_split(regexp_replace({_NORM_DUCK},
                   '{_RAKE_STOP_RE_DUCK}', '|', 'g'), '|'),
                 p -> trim(regexp_replace(p, ' +', ' ', 'g'))),
               p -> p <> '')) AS phrase
      FROM documents
    ),
    ph AS (
      SELECT phrase, len(string_split(phrase, ' ')) AS k FROM frags
      WHERE len(string_split(phrase, ' ')) <= {_RAKE_MAXLEN}
    ),
    wstat AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(k) AS BIGINT) AS deg
      FROM (SELECT unnest(string_split(phrase, ' ')) AS w, k FROM ph)
      GROUP BY w
    ),
    pdist AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur,
             CAST(MAX(k) AS BIGINT) AS n_words
      FROM ph GROUP BY phrase
    ),
    scored AS (
      SELECT p.phrase, p.n_occur, p.n_words,
             CAST(SUM(ws.deg * 1000000 // ws.freq) AS BIGINT) AS score_p6
      FROM (SELECT phrase, n_occur, n_words,
                   unnest(string_split(phrase, ' ')) AS w
            FROM pdist) p
      JOIN wstat ws ON ws.w = p.w
      GROUP BY p.phrase, p.n_occur, p.n_words
    )
    SELECT phrase, n_occur, n_words, score_p6
    FROM scored
    ORDER BY score_p6 DESC, n_occur DESC, phrase
    LIMIT {_RAKE_TOP}
    """,
    doc=f"RAKE keyword extraction: stopword/delimiter runs segment "
    f"docs into candidate phrases (≤{_RAKE_MAXLEN} words), each word "
    "scored degree·1e6//freq over the whole corpus, phrase score = "
    "sum of member-word scores — the phrase-level keyword ranker "
    "beside text_keywords_rare (single-token tf-df) and "
    "text_bigram_pmi (collocation strength)",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction): candidate phrases
    are the maximal runs of content words between stopword/delimiter
    breaks; each word gets score deg/freq (deg = Σ length of phrases
    it appears in — words that live in longer phrases score higher),
    and a phrase scores the sum of its words. The co-occurrence
    degree signal is what separates RAKE from plain frequency — and
    from ``text_keywords_rare`` (token-level tf×df rarity) and
    ``text_bigram_pmi`` (pairwise collocation): RAKE ranks variable-
    length phrases. Runs longer than the cap are dropped (stated, not
    hidden); scores are exact integers (deg·1e6 div freq, truncating
    on both engines), so ranking never touches floats.

    Scale: phrase segmentation is expression-side regex on the scan
    (one fact pass, no Python); word stats and distinct-phrase tables
    are vocabulary-sized, so the score join broadcasts. Top-N is
    orderBy+limit → TakeOrderedAndProject, never a global window.
    """
    docs = load(spark, "documents", sf_dir)
    frags = docs.select(
        F.explode(
            F.filter(
                F.transform(
                    F.split(
                        F.regexp_replace(
                            F.expr(_NORM), _RAKE_STOP_RE, "|"
                        ),
                        "\\|",
                    ),
                    lambda p: F.trim(F.regexp_replace(p, " +", " ")),
                ),
                lambda p: p != "",
            )
        ).alias("phrase")
    )
    ph = frags.select(
        "phrase", F.size(F.split("phrase", " ")).alias("k")
    ).filter(F.col("k") <= _RAKE_MAXLEN)
    wstat = (
        ph.select(F.explode(F.split("phrase", " ")).alias("w"), "k")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("k").cast("long").alias("deg"),
        )
    )
    pdist = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occur"),
        F.max("k").cast("long").alias("n_words"),
    )
    scored = (
        pdist.select(
            "phrase",
            "n_occur",
            "n_words",
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .join(F.broadcast(wstat), "w")
        .groupBy("phrase", "n_occur", "n_words")
        .agg(
            F.sum(F.expr("deg * 1000000 div freq"))
            .cast("long")
            .alias("score_p6")
        )
    )
    return scored.orderBy(
        F.desc("score_p6"), F.desc("n_occur"), F.asc("phrase")
    ).limit(_RAKE_TOP)


# ---------- unigram-LM tokenizer: Viterbi segmentation (E-step) ----------

_UNI_MAXLEN = 16  # words longer than this are out of scope (doc'd)
_UNI_MAXP = 4  # max piece length
_UNI_TOPV = 150  # multi-char vocab budget (all single chars always in)


def _unigram_sql() -> str:
    parts = [
        _BPE_WC_SQL,
        f"wcl AS (SELECT w, wn FROM wc WHERE length(w) <= {_UNI_MAXLEN})",
        "spans AS MATERIALIZED (SELECT w, wn, j, j + l AS i, "
        "substr(w, CAST(j AS INT) + 1, CAST(l AS INT)) AS piece "
        "FROM (SELECT w, wn, unnest(range(0, length(w))) AS j FROM wcl), "
        f"(SELECT unnest(range(1, {_UNI_MAXP} + 1)) AS l) "
        "WHERE j + l <= length(w))",
        "pf AS (SELECT piece, SUM(wn) AS freq FROM "
        "(SELECT DISTINCT w, wn, piece FROM spans) GROUP BY piece)",
        # the LIMIT must bind to the multi-char branch ONLY — a bare
        # UNION ALL ... ORDER BY ... LIMIT caps the WHOLE vocab and
        # silently drops low-frequency single chars (unsegmentable
        # words vanish from the output)
        "vocab AS MATERIALIZED ("
        "SELECT piece, CAST(FLOOR(ln(CAST(freq AS DOUBLE)) "
        "* 1000000000.0 + 0.5) AS BIGINT) AS lnq FROM pf "
        "WHERE length(piece) = 1 "
        "UNION ALL SELECT * FROM ("
        "SELECT piece, CAST(FLOOR(ln(CAST(freq AS DOUBLE)) "
        "* 1000000000.0 + 0.5) AS BIGINT) AS lnq FROM pf "
        "WHERE length(piece) >= 2 "
        f"ORDER BY 2 DESC, 1 LIMIT {_UNI_TOPV}))",
        # normalization is LOAD-BEARING: weights must be ln(freq/Z)
        # (negative), else frequent single chars always outscore any
        # multi-char piece and every word degenerates to characters
        "z AS (SELECT CAST(FLOOR(ln(CAST(SUM(f) AS DOUBLE)) "
        "* 1000000000.0 + 0.5) AS BIGINT) AS lnz FROM "
        "(SELECT pf.freq AS f FROM pf JOIN vocab USING (piece)))",
        "vsp AS MATERIALIZED (SELECT s.w, s.j, s.i, "
        "64 * (v.lnq - z.lnz) - 1 AS wt "
        "FROM spans s JOIN vocab v USING (piece), z)",
        "dp0 AS (SELECT w, CAST(63 AS BIGINT) AS v FROM wcl)",
    ]
    for i in range(1, _UNI_MAXLEN + 1):
        branches = " UNION ALL ".join(
            f"SELECT s.w, d.v + s.wt AS v FROM vsp s "
            f"JOIN dp{j} d ON d.w = s.w "
            f"WHERE s.j = {j} AND s.i = {i}"
            for j in range(max(0, i - _UNI_MAXP), i)
        )
        parts.append(
            f"dp{i} AS MATERIALIZED (SELECT w, MAX(v) AS v "
            f"FROM ({branches}) GROUP BY w)"
        )
    sel = " UNION ALL ".join(
        f"SELECT w, {i} AS L, v FROM dp{i}"
        for i in range(2, _UNI_MAXLEN + 1)
    )
    parts.append(f"fin AS (SELECT wcl.w, wcl.wn, d.v FROM wcl "
                 f"JOIN ({sel}) d ON d.w = wcl.w AND d.L = length(wcl.w))")
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT w AS word, CAST(wn AS BIGINT) AS wn, "
        # T = v−63 is NEGATIVE (normalized lnq < 0): normalize the mod
        # with the ((x % m) + m) % m form (CLAUDE.md convention) so
        # both engines agree regardless of % sign semantics
        "CAST(64 - (((v - 63) % 64 + 64) % 64) AS BIGINT) AS n_pieces, "
        "CAST((v - 63 + (64 - (((v - 63) % 64 + 64) % 64))) // 64 "
        "AS BIGINT) AS score_lnq FROM fin"
    )


@register(
    "text_unigram_viterbi",
    _unigram_sql(),
    doc="unigram-LM tokenizer (SentencePiece) Viterbi E-step in-"
    "engine: substring vocab (all chars + top-150 multi-char pieces "
    "by frequency) scored by quantized ln(freq); per word type, the "
    "max-likelihood segmentation score AND its piece count from ONE "
    "max-plus DP — packing (score, -pieces) as packed' = packed + "
    "64·lnq − 1 makes the lexicographic argmax a plain integer max; "
    "completes the tokenizer-training family beside BPE",
)
def text_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER tokenizer-training algorithm (Kudo 2018): where BPE
    greedily merges, unigram-LM segments each word by maximum
    likelihood over a piece vocabulary — the Viterbi DP
    dp[i] = max_j (dp[j] + ln p(w[j:i])). Everything is exact:
    ln(freq) floor-quantizes to an integer (the qln convention), and
    the (score, fewer-pieces) lexicographic objective folds into ONE
    integer by weighting each piece 64·lnq − 1 (any 1-quantum score
    difference ≥ 64 packed units > the ≤16 piece differential, so
    max(packed) == lexicographic argmax); piece count and score
    unpack from the result mod 64. The DP itself is one ``aggregate``
    fold over word positions with the span table collected per word
    — no loop, no UDF.

    Scale: state is word TYPES × (L·4) spans (Zipf-bounded, like the
    BPE family); the vocab build is one aggregate + TakeOrdered; the
    fold is per-word bounded by L ≤ 16. The full EM adds a backtrace
    fold (same shape) and a piece-count M-step aggregate — the
    E-step here is the hard part and the demonstrated capability.
    """
    wc = _word_counts(load(spark, "documents", sf_dir)).filter(
        F.length("w") <= _UNI_MAXLEN
    )
    spans_arr = F.expr(
        f"""
        flatten(transform(sequence(0, length(w) - 1), j ->
          transform(sequence(1, least({_UNI_MAXP}, length(w) - j)), l ->
            named_struct('j', j, 'i', j + l,
                         'piece', substring(w, cast(j + 1 as int),
                                            cast(l as int))))))
        """
    )
    spans = pin(
        wc.select("w", "wn", F.explode(spans_arr).alias("sp")).select(
            "w", "wn", F.col("sp.j").alias("j"),
            F.col("sp.i").alias("i"), F.col("sp.piece").alias("piece")
        )
    )
    pf = (
        spans.select("w", "wn", "piece")
        .distinct()
        .groupBy("piece")
        .agg(F.sum("wn").cast("long").alias("freq"))
    )
    lnq = F.floor(
        F.log(F.col("freq").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    chars = pf.filter(F.length("piece") == 1).select("piece", lnq.alias("lnq"))
    multi = (
        pf.filter(F.length("piece") >= 2)
        .select("piece", lnq.alias("lnq"))
        .orderBy(F.desc("lnq"), "piece")
        .limit(_UNI_TOPV)
    )
    vocab = chars.unionByName(multi)
    # ln Z over the vocab's frequency mass: weights become ln(f/Z) < 0
    # — without the normalization, frequent single chars always win
    # and segmentation degenerates to characters
    z = (
        pf.join(vocab.select("piece"), "piece")
        .agg(
            F.floor(
                F.log(F.sum("freq").cast("double")) * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lnz")
        )
    )
    vsp = (
        spans.join(F.broadcast(vocab), "piece")
        .crossJoin(F.broadcast(z))
        .select(
            "w", "j", "i", F.expr("64 * (lnq - lnz) - 1").alias("wt")
        )
    )
    trip = (
        vsp.groupBy("w")
        .agg(F.collect_list(F.struct("j", "i", "wt")).alias("sp3"))
        .join(wc, "w")
    )
    dp = F.expr(
        """
        aggregate(
          sequence(1, length(w)),
          array(63L),
          (acc, p) -> array_append(acc,
            array_max(transform(
              filter(sp3, s -> s.i = p),
              s -> element_at(acc, cast(s.j + 1 as int)) + s.wt))),
          acc -> element_at(acc, cast(length(w) + 1 as int)))
        """
    )
    return trip.select(
        F.col("w").alias("word"),
        F.col("wn").cast("long").alias("wn"),
        dp.alias("_v"),
    ).select(
        "word",
        "wn",
        F.expr(
            "cast(64 - (((_v - 63) % 64 + 64) % 64) as bigint)"
        ).alias("n_pieces"),
        F.expr(
            "cast((_v - 63 + (64 - (((_v - 63) % 64 + 64) % 64))) "
            "div 64 as bigint)"
        ).alias("score_lnq"),
    )


# ---------- WordPiece tokenizer training (likelihood-scored merges) ----------
#
# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) differs from
# BPE in ONE place: the merge argmax maximizes the unigram-LM
# likelihood gain score(a,b) = count(ab) / (count(a)·count(b)) instead
# of the raw pair count — frequent pairs of already-frequent symbols
# lose to rarer-but-cohesive pairs. Everything else (word-type state,
# leftmost greedy rewrite, per-round lineage cuts) is ``_merge_train``,
# so this op completes the in-engine tokenizer-training triad:
# text_bpe_trainN (count argmax), text_unigram_viterbi (SentencePiece
# E-step), text_wordpiece_train4 (likelihood-ratio argmax).

_WP_TRAIN_N = 4
_WP_SCALE = 1_000_000_000_000  # 1e12 score quantization grid


def _wp_rank(sp: DataFrame, pairs: DataFrame) -> DataFrame:
    """WordPiece's argmax: score every pair by
    floor(n·1e12 / (sn_a·sn_b)) against this round's symbol counts,
    ties → higher n, then pair asc."""
    syms = (
        sp.select(F.explode(_symbols(F.col("s"))).alias("sym"), "wn")
        .groupBy("sym")
        .agg(F.sum("wn").cast("long").alias("sn"))
    )
    return (
        pairs.withColumn("a", F.split("pair", " ").getItem(0))
        .withColumn("b", F.split("pair", " ").getItem(1))
        .join(
            F.broadcast(syms.select(F.col("sym").alias("a"),
                                    F.col("sn").alias("sa"))),
            "a",
        )
        .join(
            F.broadcast(syms.select(F.col("sym").alias("b"),
                                    F.col("sn").alias("sb"))),
            "b",
        )
        .select(
            "pair",
            "n",
            F.expr(
                f"cast((cast(n as decimal(38,0)) * {_WP_SCALE}) div "
                "(cast(sa as decimal(38,0)) * cast(sb as decimal(38,0)))"
                " as bigint)"
            ).alias("score_q"),
        )
        .orderBy(F.desc("score_q"), F.desc("n"), "pair")
    )


def _wp_rank_sql(k: int) -> list[str]:
    """Oracle form of ``_wp_rank``: the score product routes through
    HUGEINT."""
    return [
        f"sy{k} AS MATERIALIZED (SELECT sym, SUM(wn) AS sn FROM "
        f"(SELECT wn, unnest(string_split(trim(s), '  ')) AS sym "
        f"FROM sp{k - 1}) GROUP BY sym)",
        f"pc{k} AS MATERIALIZED (SELECT pair, SUM(wn) AS pn "
        f"FROM p{k} GROUP BY pair)",
        f"t{k} AS MATERIALIZED (SELECT pair, CAST(pn AS BIGINT) AS n, "
        f"CAST(CAST(pn AS HUGEINT) * {_WP_SCALE} // "
        f"(CAST(sa.sn AS HUGEINT) * CAST(sb.sn AS HUGEINT)) "
        f"AS BIGINT) AS score_q "
        f"FROM pc{k}, sy{k} sa, sy{k} sb "
        f"WHERE sa.sym = string_split(pair, ' ')[1] "
        f"AND sb.sym = string_split(pair, ' ')[2] "
        f"ORDER BY score_q DESC, n DESC, pair LIMIT 1)",
    ]


@register(
    "text_wordpiece_train4",
    _merge_train_sql(_WP_TRAIN_N, _wp_rank_sql),
    doc=f"WordPiece tokenizer training, {_WP_TRAIN_N} full iterations "
    "in-engine: the merge argmax maximizes the likelihood-gain score "
    "count(ab)·1e12 // (count(a)·count(b)) (HUGEINT/decimal(38,0), "
    "ties → higher pair count, then pair asc) instead of BPE's raw "
    "count — completes the tokenizer-training triad beside "
    "text_bpe_trainN and text_unigram_viterbi",
)
def text_wordpiece_train4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece's likelihood-scored merge loop: ``_merge_train`` with
    the ``_wp_rank`` argmax. Symbol state is the BPE loop's
    sentinel-wrapped double-space word-type frame (so rewrites match
    whole adjacent symbols only), and each round computes BOTH
    per-symbol counts and adjacent-pair counts from it, scores every
    pair by floor(pn·1e12 / (sn_a·sn_b)) — the integer form of the
    unigram-LM likelihood gain p(ab)/(p(a)p(b)) up to the constant
    total count — and merges the argmax. The 1e12 grid is the
    determinism quantization; ties resolve by higher raw pair count
    then lexicographic pair, identically in both engines (the score
    product sn_a·sn_b routes through HUGEINT/decimal(38,0) — counts
    at corpus scale overflow int64 under the 1e12 scale-up).

    The plain symbol alphabet (no '##' continuation marks) is the
    declared simplification: in this word-type representation the
    continuation mark only relabels inner symbols and never changes
    which merge wins. Encoding with a trained WordPiece vocab is
    greedy longest-prefix — ``text_wordpiece_encode``.

    Scale: identical to text_bpe_train8 — all state is word TYPES
    (Zipf-bounded) × symbol types; the score join touches pair types
    against symbol types (both model-side, broadcast).
    """
    return _merge_train(spark, sf_dir, _WP_TRAIN_N, _wp_rank)


# ---------- generation-eval metrics: ROUGE-N and BLEU ----------
#
# The evaluation side of a training pipeline: once SFT/DPO pairs exist
# (text_sft_pairs, train_dpo_pairs), model outputs get scored against
# references with n-gram overlap metrics. Deterministic pairing over
# the corpus (candidate = even doc_id, reference = the next doc) keeps
# the metric math — clipped-overlap counts, modified precisions,
# brevity penalty — fully oracle-checkable. All counts are integers;
# the only transcendental (the BLEU brevity penalty's exp) is
# dround-quantized per the chi2/entropy convention.

_EVAL_GRAMS_SQL = f"""
    etoks AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    egrams AS (
      SELECT doc_id, 1 AS n, unnest(t) AS g FROM etoks
      UNION ALL
      SELECT doc_id, 2 AS n, unnest({_sql_shingles('t', 2)}) AS g
      FROM etoks
    ),
    egc AS (SELECT doc_id, n, g, COUNT(*) AS c FROM egrams
            WHERE g <> '' GROUP BY doc_id, n, g),
    ecand AS (SELECT doc_id AS pair_id, n, g, c FROM egc
              WHERE doc_id % 2 = 0),
    eref AS (SELECT doc_id - 1 AS pair_id, n, g, c FROM egc
             WHERE doc_id % 2 = 1),
    eov AS (SELECT ecand.pair_id, ecand.n,
                   SUM(LEAST(ecand.c, eref.c)) AS o
            FROM ecand JOIN eref ON eref.pair_id = ecand.pair_id
                 AND eref.n = ecand.n AND eref.g = ecand.g
            GROUP BY ecand.pair_id, ecand.n),
    ect AS (SELECT pair_id, n, SUM(c) AS ctot FROM ecand
            GROUP BY pair_id, n),
    ert AS (SELECT pair_id, n, SUM(c) AS rtot FROM eref
            GROUP BY pair_id, n)
"""


def _eval_gram_counts(spark: SparkSession, sf_dir: str):
    """Shared gram-count frames: (cand, ref, overlap, totals) keyed by
    (pair_id, n) for n ∈ {1, 2}."""
    docs = load(spark, "documents", sf_dir)
    toked = docs.select("doc_id", _tokens(F.expr(_NORM)).alias("t"))
    uni = toked.select(
        "doc_id", F.lit(1).alias("n"), F.explode("t").alias("g")
    )
    bi = toked.select(
        "doc_id",
        F.lit(2).alias("n"),
        F.explode(shingles(F.col("t"), 2)).alias("g"),
    )
    gc = (
        uni.unionByName(bi)
        .filter(F.col("g") != "")
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = gc.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("pair_id"), "n", "g", F.col("c").alias("cc")
    )
    ref = gc.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).alias("pair_id"),
        "n",
        "g",
        F.col("c").alias("rc"),
    )
    ov = (
        cand.join(ref, ["pair_id", "n", "g"])
        .groupBy("pair_id", "n")
        .agg(F.sum(F.least("cc", "rc")).cast("long").alias("o"))
    )
    ct = cand.groupBy("pair_id", "n").agg(
        F.sum("cc").cast("long").alias("ctot")
    )
    rt = ref.groupBy("pair_id", "n").agg(
        F.sum("rc").cast("long").alias("rtot")
    )
    return ov, ct, rt


@register(
    "text_rouge_n",
    f"""
    WITH {_EVAL_GRAMS_SQL}
    SELECT ect.pair_id, CAST(ect.n AS BIGINT) AS ngram,
           CAST(COALESCE(o, 0) AS BIGINT) AS overlap,
           CAST(ctot AS BIGINT) AS cand_ngrams,
           CAST(rtot AS BIGINT) AS ref_ngrams,
           CAST(COALESCE(o, 0) AS DOUBLE) / CAST(ctot AS DOUBLE)
             AS rouge_p,
           CAST(COALESCE(o, 0) AS DOUBLE) / CAST(rtot AS DOUBLE)
             AS rouge_r,
           2.0 * CAST(COALESCE(o, 0) AS DOUBLE)
             / CAST(ctot + rtot AS DOUBLE) AS rouge_f1
    FROM ect JOIN ert ON ert.pair_id = ect.pair_id AND ert.n = ect.n
    LEFT JOIN eov ON eov.pair_id = ect.pair_id AND eov.n = ect.n
    """,
    doc="ROUGE-1/ROUGE-2 per (candidate, reference) pair: clipped "
    "n-gram overlap Σ min(count_cand, count_ref), exact-integer "
    "precision/recall/F1 (F1 = 2·o/(|cand|+|ref|) — one division); "
    "pairs are (even doc_id, next doc) — the generation-eval stage "
    "over SFT-style pairs",
)
def text_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-oriented summarization/generation metric, in-engine:
    per pair and per n ∈ {1, 2}, the CLIPPED overlap (each reference
    n-gram credits at most its reference multiplicity — the min(),
    not a plain intersection count), candidate/reference totals, and
    P/R/F1 each as ONE exact integer division. Pairs where either
    side lacks n-grams at a width drop that width's row (C4-style
    short-doc handling); zero overlap keeps the row with metric 0.

    Scale: gram counts shuffle (doc, n, 16-byte-able gram) rows with
    map-side combine; the overlap join is gram-keyed fact-to-fact
    (the dedup_span_corpus shape — hash grams to digests at 100 TB);
    totals ride the same (pair, n) partitioning.
    """
    ov, ct, rt = _eval_gram_counts(spark, sf_dir)
    o = F.coalesce(F.col("o"), F.lit(0).cast("long"))
    return (
        ct.join(rt, ["pair_id", "n"])
        .join(ov, ["pair_id", "n"], "left")
        .select(
            "pair_id",
            F.col("n").cast("long").alias("ngram"),
            o.alias("overlap"),
            F.col("ctot").alias("cand_ngrams"),
            F.col("rtot").alias("ref_ngrams"),
            (o.cast("double") / F.col("ctot").cast("double")).alias(
                "rouge_p"
            ),
            (o.cast("double") / F.col("rtot").cast("double")).alias(
                "rouge_r"
            ),
            (
                F.lit(2.0)
                * o.cast("double")
                / (F.col("ctot") + F.col("rtot")).cast("double")
            ).alias("rouge_f1"),
        )
    )


@register(
    "text_bleu_eval",
    f"""
    WITH {_EVAL_GRAMS_SQL},
    wide AS (
      SELECT c1.pair_id,
             c1.ctot AS c1, r1.rtot AS r1,
             c2.ctot AS c2,
             COALESCE(o1.o, 0) AS o1, COALESCE(o2.o, 0) AS o2
      FROM (SELECT * FROM ect WHERE n = 1) c1
      JOIN (SELECT * FROM ert WHERE n = 1) r1
        ON r1.pair_id = c1.pair_id
      LEFT JOIN (SELECT * FROM ect WHERE n = 2) c2
        ON c2.pair_id = c1.pair_id
      LEFT JOIN (SELECT * FROM eov WHERE n = 1) o1
        ON o1.pair_id = c1.pair_id
      LEFT JOIN (SELECT * FROM eov WHERE n = 2) o2
        ON o2.pair_id = c1.pair_id
    ),
    scored AS (
      SELECT pair_id,
             CAST(c1 AS BIGINT) AS cand_len,
             CAST(r1 AS BIGINT) AS ref_len,
             CAST(o1 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p1,
             CASE WHEN c2 IS NOT NULL AND c2 > 0
                  THEN CAST(o2 AS DOUBLE) / CAST(c2 AS DOUBLE)
                  ELSE NULL END AS p2,
             CASE WHEN c1 >= r1 THEN 1.0
                  ELSE {sql_dround('EXP(1.0 - CAST(r1 AS DOUBLE) / CAST(c1 AS DOUBLE))')}
             END AS bp_q
      FROM wide
    )
    SELECT pair_id, cand_len, ref_len, p1, p2, bp_q,
           CASE WHEN p2 IS NULL THEN NULL
                ELSE {sql_dround('bp_q * SQRT(p1 * p2)')} END AS bleu_q
    FROM scored
    """,
    doc="BLEU-2 per (candidate, reference) pair: modified (clipped) "
    "unigram/bigram precisions, brevity penalty exp(1 − r/c) "
    "dround-quantized (the one transcendental), BLEU = BP·√(p1·p2) — "
    "sqrt and the final product are single IEEE ops, deterministic "
    "on both engines",
)
def text_bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BLEU scoring: the same clipped-overlap counts as
    ``text_rouge_n`` pivoted wide per pair, modified precisions as
    exact divisions, and the geometric mean taken as √(p1·p2) so no
    logs enter the hash path. Only exp() differs across engines — the
    brevity penalty (and the final product, which inherits its grid)
    is floor-quantized at 1e-6 per the chi2/entropy term convention.
    Candidates with no bigrams score NULL (n-gram order unsatisfied),
    zero overlap scores 0 — both states distinguishable downstream.

    Scale: identical to text_rouge_n (shared gram-count stages); the
    pivot joins are per-(pair, n) aggregates, k-bounded at n ≤ 2.
    """
    ov, ct, rt = _eval_gram_counts(spark, sf_dir)
    c1 = ct.filter(F.col("n") == 1).select("pair_id", F.col("ctot").alias("c1"))
    c2 = ct.filter(F.col("n") == 2).select("pair_id", F.col("ctot").alias("c2"))
    r1 = rt.filter(F.col("n") == 1).select("pair_id", F.col("rtot").alias("r1"))
    o1 = ov.filter(F.col("n") == 1).select("pair_id", F.col("o").alias("o1"))
    o2 = ov.filter(F.col("n") == 2).select("pair_id", F.col("o").alias("o2"))
    wide = (
        c1.join(r1, "pair_id")
        .join(c2, "pair_id", "left")
        .join(o1, "pair_id", "left")
        .join(o2, "pair_id", "left")
        .select(
            "pair_id",
            "c1",
            "r1",
            "c2",
            F.coalesce("o1", F.lit(0).cast("long")).alias("o1"),
            F.coalesce("o2", F.lit(0).cast("long")).alias("o2"),
        )
    )
    p1 = F.col("o1").cast("double") / F.col("c1").cast("double")
    p2 = F.when(
        F.col("c2").isNotNull() & (F.col("c2") > 0),
        F.col("o2").cast("double") / F.col("c2").cast("double"),
    )
    bp = F.when(F.col("c1") >= F.col("r1"), F.lit(1.0)).otherwise(
        dround(
            F.exp(F.lit(1.0) - F.col("r1").cast("double") / F.col("c1").cast("double"))
        )
    )
    scored = wide.select(
        "pair_id",
        F.col("c1").alias("cand_len"),
        F.col("r1").alias("ref_len"),
        p1.alias("p1"),
        p2.alias("p2"),
        bp.alias("bp_q"),
    )
    return scored.withColumn(
        "bleu_q",
        F.when(
            F.col("p2").isNotNull(),
            dround(F.col("bp_q") * F.sqrt(F.col("p1") * F.col("p2"))),
        ),
    )


# ---------- WordPiece encoding (greedy longest-match inference) ----------

_WP_ENC_STEPS = 8  # unroll bound == max encodable word length


def _wp_encode_sql() -> str:
    """Generated oracle: vocab = corpus alphabet ∪ the 4 trained
    merges (the REGISTERED train oracle embedded as a subquery —
    composition by reference), then _WP_ENC_STEPS unrolled greedy
    longest-prefix strip steps, each MATERIALIZED."""
    ctes = [
        _BPE_WC_SQL,
        f"wtr AS MATERIALIZED "
        f"({_merge_train_sql(_WP_TRAIN_N, _wp_rank_sql)})",
        "wpv AS MATERIALIZED ("
        "SELECT DISTINCT piece FROM ("
        f"SELECT unnest(string_split(trim({_SPACED_SQL}), '  ')) AS piece "
        "FROM wc"
        " UNION ALL "
        "SELECT replace(merged, ' ', '') AS piece FROM wtr))",
        f"e0 AS (SELECT w, wn, w AS rest, '' AS enc, 0 AS np FROM wc "
        f"WHERE length(w) <= {_WP_ENC_STEPS})",
    ]
    for k in range(1, _WP_ENC_STEPS + 1):
        src = f"e{k - 1}"
        ctes.append(
            f"e{k} AS MATERIALIZED ("
            f"SELECT w, wn, rest, enc, np FROM {src} WHERE rest = '' "
            "UNION ALL "
            "SELECT w, wn, substr(rest, length(p) + 1) AS rest, "
            "enc || (CASE WHEN np = 0 THEN '' ELSE '|' END) || p AS enc, "
            "np + 1 AS np "
            "FROM (SELECT w, wn, rest, enc, np, piece AS p, "
            "ROW_NUMBER() OVER (PARTITION BY w "
            "ORDER BY length(piece) DESC, piece) AS rn "
            f"FROM {src} JOIN wpv ON starts_with(rest, piece) "
            "WHERE rest <> '') t WHERE rn = 1)"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT w AS word, CAST(wn AS BIGINT) AS wn, "
        f"CAST(np AS BIGINT) AS n_pieces, enc AS encoded "
        f"FROM e{_WP_ENC_STEPS} WHERE rest = ''"
    )


@register(
    "text_wordpiece_encode",
    _wp_encode_sql(),
    doc="WordPiece inference: greedy longest-match-first (max-munch) "
    "segmentation of every word type against the TRAINED vocab "
    "(corpus alphabet + text_wordpiece_train4's merges, derived by "
    f"reference) — per word of ≤ {_WP_ENC_STEPS} chars: piece count and "
    "the '|'-joined encoding; one vectorized pass over the collected "
    "merge pieces",
)
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inference half of WordPiece (BERT's runtime tokenizer):
    repeatedly strip the LONGEST vocab piece that prefixes the
    remaining word — greedy max-munch, not the unigram DP
    (``text_unigram_viterbi``) and not BPE merge-order replay
    (``text_bpe_encode``); all three inference algorithms now exist
    beside their trainers. The vocabulary is derived BY REFERENCE:
    the corpus alphabet plus ``text_wordpiece_train4``'s merged
    symbols (Spark calls the registered memoized builder; the oracle
    embeds the registered train SQL as a subquery), so train and
    encode cannot drift. Coverage is total: every character is in
    the vocab, so each step consumes ≥ 1 char and the unroll bound
    equals the max encodable word length (longer words are excluded
    by the same filter on both sides).

    The longest-prefix argmax needs no tiebreak (two same-length
    prefixes of one string are equal, and the vocab is distinct) —
    the ORDER BY carries one anyway for belt-and-braces determinism.

    Scale: state is word TYPES; the merge pieces are collected on the
    driver (``_WP_TRAIN_N`` rows) and shipped in the closure of ONE
    ``mapInPandas`` pass, whose per-word loop strips at most
    ``_WP_ENC_STEPS`` pieces — no join, shuffle or lineage cut. The
    oracle unrolls the same loop as ``_WP_ENC_STEPS`` materialized
    prefix-join steps. Real vocabularies (30k pieces) replace the
    linear piece scan with a lookup of the length-k prefix per
    candidate length — same pass shape.
    """
    wc = _word_counts(load(spark, "documents", sf_dir))
    # trained merge pieces: BOUNDED (_WP_TRAIN_N rows) — collect them
    # and run the greedy strip loop as ONE vectorized pass instead of
    # 8 chained broadcast-NLJ + window + union + checkpoint stages
    # (guide-§4.2 shape: Spark distributes, Python does the per-word
    # loop over <= _WP_ENC_STEPS chars). The single-char half of the
    # vocab never needs materializing: every char of w is in the
    # alphabet by construction, so when no merge piece prefixes the
    # rest, the longest matching piece IS the 1-char prefix. Greedy
    # order (length desc, piece asc) is preserved: merge pieces are
    # >= 2 chars, so any matching merge beats the char fallback, and
    # the sorted candidate list applies the same tiebreak.
    pieces = sorted(
        {
            r["piece"]
            for r in text_wordpiece_train4(spark, sf_dir)
            .select(
                F.replace(F.col("merged"), F.lit(" "), F.lit("")).alias(
                    "piece"
                )
            )
            .collect()
        },
        key=lambda p: (-len(p), p),
    )

    def _encode(batches):
        for pdf in batches:
            encs, nps = [], []
            for w in pdf["w"]:
                rest, parts = w, []
                while rest:
                    for p in pieces:
                        if rest.startswith(p):
                            parts.append(p)
                            rest = rest[len(p):]
                            break
                    else:
                        parts.append(rest[0])
                        rest = rest[1:]
                encs.append("|".join(parts))
                nps.append(len(parts))
            yield pd.DataFrame(
                {
                    "word": pdf["w"],
                    "wn": pdf["wn"],
                    "n_pieces": pd.Series(nps, dtype="int64"),
                    "encoded": encs,
                }
            )

    return wc.filter(F.length("w") <= _WP_ENC_STEPS).mapInPandas(
        _encode, "word string, wn long, n_pieces long, encoded string"
    )


# ---------- chrF: character n-gram F-score ----------
#
# The third generation-eval metric after ROUGE/BLEU (Popović 2015):
# char-level n-grams are tokenizer-free, so chrF is the standard
# sanity metric when candidate/reference tokenizations disagree.
# Whitespace is removed before gram extraction (the chrF convention);
# pairing is the same (even doc_id, next doc) as text_rouge_n.

_CHRF_NS = (1, 2, 3)
_CHRF_BETA2 = 4  # β = 2 → β² = 4: recall weighted 4× precision


def _chrf_grams_sql() -> str:
    branches = " UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, "
        f"unnest(list_transform(range(1, CAST(length(s) AS BIGINT) - {n} + 2), "
        f"k -> substr(s, k, {n}))) AS g FROM cdocs"
        for n in _CHRF_NS
    )
    return f"""
    cdocs AS (SELECT doc_id, replace({_NORM_DUCK}, ' ', '') AS s
              FROM documents),
    cgrams AS ({branches}),
    cgc AS (SELECT doc_id, n, g, COUNT(*) AS c FROM cgrams
            GROUP BY doc_id, n, g),
    ccand AS (SELECT doc_id AS pair_id, n, g, c FROM cgc
              WHERE doc_id % 2 = 0),
    cref AS (SELECT doc_id - 1 AS pair_id, n, g, c FROM cgc
             WHERE doc_id % 2 = 1),
    cov AS (SELECT ccand.pair_id, ccand.n,
                   SUM(LEAST(ccand.c, cref.c)) AS o
            FROM ccand JOIN cref ON cref.pair_id = ccand.pair_id
                 AND cref.n = ccand.n AND cref.g = ccand.g
            GROUP BY ccand.pair_id, ccand.n),
    cct AS (SELECT pair_id, n, SUM(c) AS ctot FROM ccand
            GROUP BY pair_id, n),
    crt AS (SELECT pair_id, n, SUM(c) AS rtot FROM cref
            GROUP BY pair_id, n)
    """


@register(
    "text_chrf",
    f"""
    WITH {_chrf_grams_sql()}
    SELECT cct.pair_id, CAST(cct.n AS BIGINT) AS ngram,
           CAST(COALESCE(o, 0) AS BIGINT) AS overlap,
           CAST(ctot AS BIGINT) AS cand_ngrams,
           CAST(rtot AS BIGINT) AS ref_ngrams,
           CAST(COALESCE(o, 0) AS DOUBLE) / CAST(ctot AS DOUBLE)
             AS chr_p,
           CAST(COALESCE(o, 0) AS DOUBLE) / CAST(rtot AS DOUBLE)
             AS chr_r,
           CASE WHEN COALESCE(o, 0) = 0 THEN 0.0
                ELSE {sql_dround(
                    f'(1 + {_CHRF_BETA2}) '
                    '* (CAST(o AS DOUBLE) / CAST(ctot AS DOUBLE)) '
                    '* (CAST(o AS DOUBLE) / CAST(rtot AS DOUBLE)) '
                    f'/ ({_CHRF_BETA2} '
                    '* (CAST(o AS DOUBLE) / CAST(ctot AS DOUBLE)) '
                    '+ (CAST(o AS DOUBLE) / CAST(rtot AS DOUBLE)))'
                )}
           END AS chrf2_q
    FROM cct JOIN crt ON crt.pair_id = cct.pair_id AND crt.n = cct.n
    LEFT JOIN cov ON cov.pair_id = cct.pair_id AND cov.n = cct.n
    """,
    doc="chrF2 per (candidate, reference) pair and char n ∈ {1,2,3}: "
    "whitespace-stripped character n-grams, clipped overlap, exact "
    "P/R divisions, F_β with β=2 (recall-weighted) dround-quantized — "
    "the tokenizer-free generation-eval metric beside ROUGE/BLEU",
)
def text_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (Popović 2015) in-engine: per pair and per n ∈ {1, 2, 3},
    CLIPPED char n-gram overlap on space-stripped normalized text,
    then chrF2 = 5·P·R / (4·P + R). P and R are each one exact
    integer division; the composed F ratio is floor-quantized at 1e-6
    (the BLEU bp_q convention) so multi-op float association cannot
    diverge across engines. Zero overlap scores 0 explicitly — the
    4P+R denominator would be 0/0 otherwise. Pairs where either side
    lacks n-grams at a width drop that width's row (ROUGE handling).

    Scale (r11, guide §2.3 "shuffle keys and metadata instead of
    payloads" inverted — here the PAYLOAD is 36× smaller than the
    gram metadata): ONE shuffle of the whitespace-stripped text by
    pair_id (each doc contributes len bytes, vs ~3·len exploded gram
    rows of ~12 bytes each through TWO aggregation shuffles in the
    relational form), then per-pair exact gram counting in vectorized
    numpy inside ``applyInPandas`` — np.unique run-length counts per
    width, clipped overlap = Σ min over the sorted-intersect common
    grams. Per-task state is bounded by one pair's two documents.
    Counts are exact integers; equality structure over codepoint
    sequences is identical to the packed-int64 gram groups (packing
    is injective: codepoints < 2²¹), so (o, ctot, rtot) match the
    relational aggregation bit-for-bit, and every P/R/F division
    below stays in the SAME Spark SQL expressions as before.
    """
    import numpy as np

    docs = load(spark, "documents", sf_dir)
    s = F.regexp_replace(F.expr(_NORM), " ", "")
    base = docs.select(
        (F.col("doc_id") - F.col("doc_id") % 2).alias("pair_id"),
        (F.col("doc_id") % 2 == 0).alias("is_c"),
        s.alias("s"),
    )
    ns = _CHRF_NS
    # ONE shuffle packs each pair into a single (pair_id, cand, ref)
    # row (max over the ≤1 non-null parity value IS that value), so
    # the Python pass is a plain mapInPandas over independent rows —
    # no per-group applyInPandas machinery (measured at ~2.3 ms/group
    # of pure pandas overhead for 3-row groups, 6.6 s at sf0.1).
    # explicit scale-adaptive partitioning (the dedup_embedding_lsh
    # verify rationale): the pair rows are few MBs but the Python
    # gram-counting is ~0.5 ms/pair, and AQE's byte-based coalescing
    # would run it on ~2 partitions; the user repartition is exempt,
    # the groupBy reuses its partitioning (same key, same N — no
    # second exchange), and N follows the cluster.
    dp = spark.sparkContext.defaultParallelism
    paired = base.repartition(dp, "pair_id").groupBy("pair_id").agg(
        F.max(F.when(F.col("is_c"), F.col("s"))).alias("cand"),
        F.max(F.when(~F.col("is_c"), F.col("s"))).alias("ref"),
    )

    def pair_stats(it):
        def cps(sv: str):
            return np.frombuffer(
                sv.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)

        def pack(cs, n: int):
            m = len(cs) - n + 1
            if m <= 0:
                return np.empty(0, dtype=np.int64)
            out = np.zeros(m, dtype=np.int64)
            for j in range(n):
                out += cs[j : j + m] << (21 * (n - 1 - j))
            return out

        for pdf in it:
            rows: dict[str, list] = {
                "pair_id": [], "n": [], "o": [], "ctot": [], "rtot": []
            }
            for pid, cand, ref in zip(
                pdf["pair_id"], pdf["cand"], pdf["ref"]
            ):
                if cand is None or ref is None:
                    # one-sided pair: ctot or rtot is 0 at every
                    # width — the ctot>0 ∧ rtot>0 filter drops it
                    continue
                cc, rc = cps(cand), cps(ref)
                for n in ns:
                    gc, gr = pack(cc, n), pack(rc, n)
                    uc, nc = np.unique(gc, return_counts=True)
                    ur, nr = np.unique(gr, return_counts=True)
                    _, ic, ir = np.intersect1d(
                        uc, ur, assume_unique=True, return_indices=True
                    )
                    rows["pair_id"].append(int(pid))
                    rows["n"].append(n)
                    rows["o"].append(
                        int(np.minimum(nc[ic], nr[ir]).sum())
                    )
                    rows["ctot"].append(len(gc))
                    rows["rtot"].append(len(gr))
            yield pd.DataFrame(rows)

    res = paired.mapInPandas(
        pair_stats, "pair_id long, n int, o long, ctot long, rtot long"
    ).filter((F.col("ctot") > 0) & (F.col("rtot") > 0))
    o = F.coalesce(F.col("o"), F.lit(0).cast("long"))
    p = o.cast("double") / F.col("ctot").cast("double")
    r = o.cast("double") / F.col("rtot").cast("double")
    return (
        res.select(
            "pair_id",
            F.col("n").cast("long").alias("ngram"),
            o.alias("overlap"),
            F.col("ctot").alias("cand_ngrams"),
            F.col("rtot").alias("ref_ngrams"),
            p.alias("chr_p"),
            r.alias("chr_r"),
            F.when(o == 0, F.lit(0.0))
            .otherwise(
                dround(
                    (1 + _CHRF_BETA2) * p * r / (_CHRF_BETA2 * p + r)
                )
            )
            .alias("chrf2_q"),
        )
    )


# ---------- HTML main-content extraction ----------
#
# The first CommonCrawl curation step: strip markup, kill
# script/style subtrees BEFORE tag-stripping (their text is not
# content), decode entities, and score text-to-markup density. The
# corpus has no HTML column, so markup is SYNTHESIZED deterministically
# around each document (the text_pii_scrub convention): a scaffold
# with title, optional <script>, nav boilerplate, d%5 links, and an
# entity-bearing paragraph wrapping the real text. The PARSER is the
# op under test; the oracle recomputes every output from the
# synthesis formula, so a regex that leaks script text or miscounts
# tags hash-fails.

_HTML_SYNTH = (
    "concat('<html><head><title>Doc ', doc_id, '</title>', "
    "CASE WHEN doc_id % 3 = 0 THEN '<script>var x=1;</script>' "
    "ELSE '' END, "
    "'</head><body><nav>menu</nav>', "
    "repeat('<a href=\"u\">x</a>', cast(doc_id % 5 as int)), "
    "'<p>R&amp;D ', {norm}, '</p></body></html>')"
)


@register(
    "text_html_extract",
    f"""
    SELECT doc_id,
           'Doc ' || doc_id AS title,
           CAST(12 + 2 * (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                + 2 * (doc_id % 5) AS BIGINT) AS n_tags,
           CAST(doc_id % 5 AS BIGINT) AS n_links,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS has_script,
           CAST(12 + length(CAST(doc_id AS VARCHAR)) + (doc_id % 5)
                + length({_NORM_DUCK}) AS BIGINT) AS text_chars,
           CAST(length({_HTML_SYNTH.format(norm=_NORM_DUCK)}) AS BIGINT)
             AS html_chars,
           CAST((12 + length(CAST(doc_id AS VARCHAR)) + (doc_id % 5)
                 + length({_NORM_DUCK})) * 1000000
                // length({_HTML_SYNTH.format(norm=_NORM_DUCK)})
                AS BIGINT) AS text_ratio_ppm
    FROM documents
    """,
    doc="HTML main-content extraction: script subtrees stripped BEFORE "
    "tag removal, entities decoded, title pulled, tag/link census, "
    "text-to-markup density in ppm — the CommonCrawl boilerplate "
    "screen; markup synthesized per doc, parse hash-checked against "
    "the synthesis formula (a regex that leaks script text fails)",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate screening as crawl pipelines run it, entirely in
    JVM regex (no UDF): (1) <script>…</script> removed with a
    dot-matches-newline non-greedy pass — removing tags first would
    leak 'var x=1;' into content, which the formula check catches;
    (2) all tags stripped; (3) '&amp;' decoded; (4) density =
    text_chars/html_chars in exact integer ppm. text_chars counts
    'Doc N' + 'menu' + one char per link + the R&D paragraph — nav
    text is (deliberately) retained so the density score reflects
    extraction BEFORE boilerplate-line filtering, which is
    text_quality_filter's job downstream.

    Scale: pure per-row map over the scan — one stage, no shuffle,
    whole-stage codegen; regex cost is linear in document size.
    """
    docs = load(spark, "documents", sf_dir)
    html = F.expr(_HTML_SYNTH.format(norm=_NORM))
    base = docs.select("doc_id", html.alias("html"))
    no_script = F.regexp_replace(
        "html", r"(?s)<script>.*?</script>", ""
    )
    content = F.regexp_replace(no_script, r"<[^>]+>", "")
    decoded = F.replace(content, F.lit("&amp;"), F.lit("&"))
    return base.select(
        "doc_id",
        F.regexp_extract("html", r"<title>([^<]*)</title>", 1).alias(
            "title"
        ),
        F.expr("regexp_count(html, '<[^>]+>')").cast("long").alias(
            "n_tags"
        ),
        F.expr("regexp_count(html, '<a ')").cast("long").alias(
            "n_links"
        ),
        F.expr(
            "cast(html like '%<script>%' as long)"
        ).alias("has_script"),
        F.length(decoded).cast("long").alias("text_chars"),
        F.length("html").cast("long").alias("html_chars"),
        F.expr(
            "length(replace(regexp_replace(regexp_replace(html, "
            "'(?s)<script>.*?</script>', ''), '<[^>]+>', ''), "
            "'&amp;', '&')) * 1000000 div length(html)"
        ).alias("text_ratio_ppm"),
    )


# ---------- license detection (training-data compliance) ----------
#
# Whether a document's license permits training use is a gating
# question for any public corpus. Headers are SYNTHESIZED per doc
# (the text_pii_scrub/text_html_extract convention): doc_id % 5
# selects MIT / Apache-2.0 / GPL / CC-BY / none, the characteristic
# phrase is prepended, and the DETECTOR (phrase matching with a fixed
# priority) is the op under test — the oracle recomputes the verdict
# from doc_id, so a detector that misses a phrase or misorders the
# priority hash-fails.

_LICENSES = (
    ("mit", "permission is hereby granted, free of charge"),
    ("apache-2.0", "licensed under the apache license, version 2.0"),
    ("gpl-3.0", "gnu general public license as published by"),
    ("cc-by-4.0", "creative commons attribution 4.0 international"),
)
_PERMISSIVE = {"mit", "apache-2.0", "cc-by-4.0"}

_LIC_SYNTH = (
    "concat(CASE cast(doc_id % 5 as int) "
    + " ".join(
        f"WHEN {k} THEN '{phrase}. '"
        for k, (_n, phrase) in enumerate(_LICENSES)
    )
    + " ELSE '' END, {norm})"
)


@register(
    "text_license_detect",
    f"""
    SELECT doc_id,
           CASE cast(doc_id % 5 as int)
             {" ".join(f"WHEN {k} THEN '{n}'"
                        for k, (n, _p) in enumerate(_LICENSES))}
             ELSE 'none' END AS license,
           CAST(CASE WHEN doc_id % 5 IN (0, 1, 3) THEN 1 ELSE 0 END
                AS BIGINT) AS is_permissive,
           CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS BIGINT)
             AS n_matches
    FROM documents
    """,
    doc="license-header detection: characteristic-phrase matching with "
    "a fixed priority over per-doc synthesized MIT/Apache/GPL/CC-BY "
    "headers — license label, permissive flag (copyleft and unknown "
    "are NOT permissive), match count; the training-data compliance "
    "gate, hash-checked against the synthesis formula",
)
def text_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance screening: the detector scans the (synthesized)
    document text for each license's characteristic phrase and labels
    by FIXED priority (MIT > Apache > GPL > CC-BY — deterministic
    when a document quotes several), with copyleft (GPL) and
    unlicensed both non-permissive. The oracle derives the truth from
    the synthesis id, so detection errors cannot cancel.

    Scale: pure per-row map over the scan — contains() on four
    literal phrases, whole-stage codegen, no shuffle.
    """
    docs = load(spark, "documents", sf_dir)
    synth = F.expr(_LIC_SYNTH.format(norm=_NORM))
    base = docs.select("doc_id", synth.alias("s"))
    hits = [
        F.col("s").contains(phrase).cast("int").alias(f"h{k}")
        for k, (_n, phrase) in enumerate(_LICENSES)
    ]
    scored = base.select("doc_id", *hits)
    label = F.lit("none")
    for k, (name, _p) in reversed(list(enumerate(_LICENSES))):
        label = F.when(F.col(f"h{k}") == 1, F.lit(name)).otherwise(label)
    n_matches = sum(F.col(f"h{k}") for k in range(len(_LICENSES)))
    permissive = F.when(
        label.isin(*sorted(_PERMISSIVE)), F.lit(1)
    ).otherwise(F.lit(0))
    return scored.select(
        "doc_id",
        label.alias("license"),
        permissive.cast("long").alias("is_permissive"),
        n_matches.cast("long").alias("n_matches"),
    )


# ====================================================================
# Phonetic blocking — Soundex. The record-linkage blocking key the
# edit-distance family (join_fuzzy_levenshtein, dedup_entity_
# resolution) doesn't have: candidates that SOUND alike land in one
# block even when their spellings differ beyond any edit-distance
# band (Rupert/Robert). Variant implemented (documented precisely so
# both engines agree): H/W removed, letters coded B F P V→1,
# C G J K Q S X Z→2, D T→3, L→4, M N→5, R→6, vowels+Y→0, adjacent
# equal codes collapsed, zeros dropped, first LETTER + 3 digits
# zero-padded. (The NARA first-letter-code adjacency rule is
# intentionally omitted — noted, identical on both sides.)
# ====================================================================

_SDX_FROM = "BFPVCGJKQSXZDTLMNRAEIOUY"
_SDX_TO = "111122222222334556000000"


def _soundex_col(col: Column) -> Column:
    up = F.upper(col)
    m = F.translate(
        F.regexp_replace(F.substring(up, 2, 1000), "[HW]", ""),
        _SDX_FROM,
        _SDX_TO,
    )
    for d in "0123456":
        m = F.regexp_replace(m, d + "{2,}", d)
    m = F.regexp_replace(m, "0", "")
    return F.concat(
        F.substring(up, 1, 1),
        F.substring(F.concat(m, F.lit("000")), 1, 3),
    )


def _soundex_sql(e: str) -> str:
    m = (
        f"translate(regexp_replace(upper(substr({e}, 2)), '[HW]', '',"
        f" 'g'), '{_SDX_FROM}', '{_SDX_TO}')"
    )
    for d in "0123456":
        m = f"regexp_replace({m}, '{d}{{2,}}', '{d}', 'g')"
    return (
        f"upper(substr({e}, 1, 1)) ||"
        f" substr(replace({m}, '0', '') || '000', 1, 3)"
    )


_SOUNDEX_ORACLE = f"""
    WITH toks AS (
      SELECT DISTINCT lower(w.w) AS tok
      FROM (SELECT unnest(string_split(p_name, ' ')) AS w
            FROM part) w
      WHERE length(w.w) >= 3),
    coded AS (SELECT tok, {_soundex_sql('tok')} AS code FROM toks)
    SELECT code,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           MIN(tok) AS min_token,
           MAX(tok) AS max_token,
           CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT)
             AS is_block
    FROM coded GROUP BY code
"""


@register(
    "dedup_soundex_blocking",
    _SOUNDEX_ORACLE,
    doc="Soundex phonetic blocking over the part-name vocabulary: "
    "H/W-transparent digit coding, adjacent-code collapse, "
    "first-letter + 3 digits — per-code block census (token count, "
    "lexicographic span, multi-token block flag), the sounds-alike "
    "candidate-pair generator beside the edit-distance family; "
    "variant pinned identically in both engines and hash-checked",
)
def dedup_soundex_blocking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phonetic blocking beats edit-distance bands exactly where
    linkage needs it: 'Rupert'/'Robert' are edit distance 3 (outside
    every cheap band) but share R163. The census shape (one row per
    code with the block flag) is the blocking-key quality report a
    linkage pipeline reads before choosing keys — skewed giant
    blocks are visible as n_tokens outliers.

    Scale: vocabulary-sized input (distinct tokens), one groupBy on
    the 4-char code — at 100 TB the blocking key is computed in the
    scan projection and the census is dictionary-scale. The
    collapse chain is 8 JVM-side regexp_replace ops, no UDF.
    """
    toks = (
        load(spark, "part", sf_dir)
        .select(F.explode(F.split("p_name", " ")).alias("w"))
        .filter(F.length("w") >= 3)
        .select(F.lower("w").alias("tok"))
        .distinct()
    )
    coded = toks.select("tok", _soundex_col(F.col("tok")).alias("code"))
    return coded.groupBy("code").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.min("tok").alias("min_token"),
        F.max("tok").alias("max_token"),
        F.when(F.count(F.lit(1)) > 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_block"),
    )
