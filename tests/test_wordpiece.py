"""WordPiece training (text_wordpiece_train4): the likelihood-scored
argmax must DIVERGE from BPE's count argmax exactly where the
objective says it should (cohesive rare pairs beat frequent pairs of
frequent symbols), and the registered op must agree with a hand
computation on a planted corpus."""

from __future__ import annotations

import os

import pandas as pd

from cs_pipeline_spark.operators.text import (
    _WP_SCALE,
    _merge_train_sql,
    _wp_rank_sql,
    text_wordpiece_train4,
)


def _write_docs(path, texts):
    rows = [
        (i, t, "en", "s0") for i, t in enumerate(texts)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(os.path.join(path, "documents.parquet"), index=False)
    return str(path)


def test_wordpiece_objective_diverges_from_bpe(spark, tmp_path):
    """Planted corpus: pair (x,y) has count 50 but both symbols are
    frequent (x appears 100, y 50) → score 50e12/5000 = 1e10; pair
    (q,z) has count 5 with rare symbols (5 each) → score 5e12/25 =
    2e11. BPE's count argmax picks 'x y'; WordPiece must pick 'q z'."""
    sf = _write_docs(tmp_path, ["xyx"] * 50 + ["qz"] * 5)
    rows = sorted(
        text_wordpiece_train4.__wrapped__(spark, sf).collect(),
        key=lambda r: r.step,
    )
    assert rows[0].merged == "q z"
    assert rows[0].n == 5
    assert rows[0].score_q == 5 * _WP_SCALE // 25
    # after merging qz, round 2 scores over the updated symbol table:
    # qz now exists as ONE symbol, and x/y pairs finally win
    assert rows[1].merged in ("x y", "y x")


def test_wordpiece_score_tiebreak_is_pair_count_then_lex(spark, tmp_path):
    """Two pairs with IDENTICAL scores: 'ab'×4 (a=4,b=4 → 4e12/16) and
    'cd'×4 (c=4,d=4 → same). Tie falls to equal n too, so the
    lexicographically smaller pair wins."""
    sf = _write_docs(tmp_path, ["ab"] * 4 + ["cd"] * 4)
    rows = sorted(
        text_wordpiece_train4.__wrapped__(spark, sf).collect(),
        key=lambda r: r.step,
    )
    assert rows[0].merged == "a b"
    assert rows[1].merged == "c d"


def test_wordpiece_oracle_generation_linear():
    s2 = _merge_train_sql(2, _wp_rank_sql)
    s4 = _merge_train_sql(4, _wp_rank_sql)
    # one (sy, pc, t, sp) MATERIALIZED quad per non-final round
    assert s4.count("AS MATERIALIZED") - s2.count("AS MATERIALIZED") == 8
    assert len(s4) < len(s2) * 3


def test_wordpiece_matches_registered_oracle_on_testdata(spark, sf_dir):
    """Spark vs generated DuckDB oracle on the real corpus (the same
    comparison tools/check.py replays)."""
    import duckdb

    got = {
        r.step: (r.merged, r.n, r.score_q)
        for r in text_wordpiece_train4.__wrapped__(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {
        int(s): (m, int(n), int(q))
        for s, m, n, q in con.execute(
            _merge_train_sql(4, _wp_rank_sql)
        ).fetchall()
    }
    assert got == want and len(got) == 4


# ---------- greedy max-munch encoding (round 8) ----------


def test_encode_is_greedy_longest_match(spark, tmp_path):
    """Corpus 'abc ab ab ab a a c c bc bc': train learns merges; the
    greedy encoder must take the LONGEST prefix first — where the
    unigram DP might prefer a 2-piece split, max-munch commits to the
    longest head."""
    from cs_pipeline_spark.operators.text import (
        text_wordpiece_encode,
        text_wordpiece_train4,
    )

    sf = _write_docs(tmp_path, ["ab ab ab bc bc abc ca ca ca ca"])
    merges = {
        r.step: r.merged
        for r in text_wordpiece_train4.__wrapped__(spark, sf).collect()
    }
    rows = {
        r.word: r for r in text_wordpiece_encode.__wrapped__(spark, sf).collect()
    }
    # every encoding reassembles to the word and respects max-munch
    vocab = {m.replace(" ", "") for m in merges.values()}
    vocab |= set("abc")
    for w, r in rows.items():
        pieces = r.encoded.split("|")
        assert "".join(pieces) == w
        assert all(p in vocab for p in pieces), (w, pieces)
        assert r.n_pieces == len(pieces)
        # greedy: the first piece is the LONGEST vocab prefix of w
        best = max((p for p in vocab if w.startswith(p)), key=len)
        assert pieces[0] == best, (w, pieces, best)


def test_encode_covers_every_word_type(spark, sf_dir):
    from cs_pipeline_spark.operators.text import (
        _WP_ENC_STEPS,
        _word_counts,
        text_wordpiece_encode,
    )
    from cs_pipeline_spark.tables import load
    from pyspark.sql import functions as F

    want = (
        _word_counts(load(spark, "documents", sf_dir))
        .filter(F.length("w") <= _WP_ENC_STEPS)
        .count()
    )
    rows = text_wordpiece_encode.__wrapped__(spark, sf_dir).collect()
    assert len(rows) == want  # total coverage: no word fails to encode
    assert all(r.n_pieces >= 1 for r in rows)
