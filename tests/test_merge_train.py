"""The merge-training ops (BPE train3/train8, WordPiece train4) and
BPE encode against their registered DuckDB oracles on planted corpora,
including one where training stops after a single merge."""

from __future__ import annotations

import duckdb
import pytest

from cs_pipeline_spark import registry
from tests.test_wordpiece import _write_docs

OPS = (
    "text_bpe_train3",
    "text_bpe_train8",
    "text_wordpiece_train4",
    "text_bpe_encode",
)

# corpus → expected row count per op. 'xyx'/'qz' merges to one symbol
# per word in 3 rounds, so train8 stops there too; 'ab' stops after 1
# merge, and encode needs all 3 of train3's merges.
CORPORA = {
    "planted": (
        ["xyx"] * 50 + ["qz"] * 5,
        {"text_bpe_train3": 3, "text_bpe_train8": 3,
         "text_wordpiece_train4": 3, "text_bpe_encode": 1},
    ),
    "early_stop": (
        ["ab"] * 3,
        {"text_bpe_train3": 1, "text_bpe_train8": 1,
         "text_wordpiece_train4": 1, "text_bpe_encode": 0},
    ),
}


@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_spark_matches_oracle_on_planted_corpus(spark, tmp_path, corpus):
    texts, n_rows = CORPORA[corpus]
    sf = _write_docs(tmp_path, texts)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    specs = registry.all_specs()
    for op in OPS:
        df = specs[op].fn(spark, sf)
        got = sorted(tuple(r) for r in df.collect())
        cur = con.execute(specs[op].oracle)
        want = sorted(cur.fetchall())
        assert df.columns == [d[0] for d in cur.description], op
        assert got == want, (op, got, want)
        assert len(got) == n_rows[op], (op, got)
