"""Depth-general merge training (text_bpe_train8 / _merge_train): the
merge chain must agree with train3 on its prefix, and plan size must
stay LINEAR in depth for both argmaxes, BPE's and WordPiece's (the
per-round localCheckpoint contract)."""

from __future__ import annotations

from cs_pipeline_spark.operators.text import (
    _BPE_TRAIN_N,
    _bpe_rank,
    _bpe_rank_sql,
    _merge_train,
    _merge_train_sql,
    _wp_rank,
)


def _analyzed_lines(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("\n")


def test_train8_prefix_equals_train3(spark, sf_dir):
    from cs_pipeline_spark.registry import all_specs

    t3 = {
        r.step: (r.merged, r.n)
        for r in all_specs()["text_bpe_train3"]
        .fn.__wrapped__(spark, sf_dir)
        .collect()
    }
    t8 = {
        r.step: (r.merged, r.n)
        for r in _merge_train(spark, sf_dir, _BPE_TRAIN_N, _bpe_rank).collect()
    }
    assert len(t8) == _BPE_TRAIN_N
    for step in (1, 2, 3):
        assert t8[step] == t3[step]
    # merges are strictly novel: a pair, once merged, never recurs
    assert len({m for m, _ in t8.values()}) == _BPE_TRAIN_N


def test_plan_growth_is_linear_in_depth(spark, sf_dir):
    for rank in (_bpe_rank, _wp_rank):
        sizes = {}
        for n in (2, 4, 8):
            df = _merge_train(spark, sf_dir, n, rank)
            df.count()  # materialize the lazy per-round checkpoints
            sizes[n] = _analyzed_lines(df)
        # linear: fixed per-round increment. Doubling-per-round would
        # give ~16x from 4 -> 8; allow generous slack around the fit.
        inc_24 = (sizes[4] - sizes[2]) / 2
        inc_48 = (sizes[8] - sizes[4]) / 4
        assert inc_48 <= inc_24 * 1.5 + 2, (rank.__name__, sizes)
        assert sizes[8] <= sizes[2] + 7 * (inc_24 * 1.5 + 2), (
            rank.__name__,
            sizes,
        )


def test_oracle_sql_generation_linear():
    """Generated oracle: one sp/p/t CTE triple per round, nothing
    quadratic in the SQL text."""
    s3 = _merge_train_sql(3, _bpe_rank_sql)
    s8 = _merge_train_sql(8, _bpe_rank_sql)
    assert s8.count("AS MATERIALIZED") - s3.count("AS MATERIALIZED") == 10
    assert len(s8) < len(s3) * 3
