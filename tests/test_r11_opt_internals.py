"""Round-11 optimization internals.

Pins the ADVICE-r10 correctness fixes to the driver-coordinated
Lloyd's machinery:

- the per-partition Σd2 partial must accumulate in arbitrary
  precision BEFORE the string cast (an int64 accumulator silently
  wraps past ~1e4 max-distance rows per batch — the string carrier
  protected nothing);
- an empty seed set (empty table, or no vec_id < k) must return the
  oracle's NULL-inertia trace instead of crashing in ``np.stack``,
  and the final assignment pass must be empty.
"""

from __future__ import annotations

import numpy as np


def test_km_sd2_partial_exact_past_int64(spark):
    """One max-distance batch whose exact Σd2 exceeds 2⁶³: the
    driver-held inertia must be the exact Python-int sum, not a
    wrapped int64."""
    from cs_pipeline_spark.operators.similarity import (
        _KM_DIM,
        _KM_K,
        _km_driver_rounds,
    )

    q = 2_000_000
    n_far = 12_000  # 12e3 rows × 64·(2q)² ≈ 1.2e19 > 2⁶³ ≈ 9.2e18
    rows = [(int(i), [-q] * _KM_DIM) for i in range(_KM_K)] + [
        (int(_KM_K + i), [q] * _KM_DIM) for i in range(n_far)
    ]
    eqs = spark.createDataFrame(
        rows, "vec_id long, eq array<long>"
    ).repartition(1)
    inertias, cids, C = _km_driver_rounds(eqs, 0)
    per_row = _KM_DIM * (2 * q) ** 2  # exact d2 of a far row
    assert per_row * n_far > 2**63  # the test actually crosses 2⁶³
    assert inertias == [per_row * n_far]


def test_km_empty_seed_returns_null_trace(spark):
    from cs_pipeline_spark.operators.similarity import (
        _KM_DIM,
        _KM_K,
        _km_assign_df,
        _km_driver_rounds,
    )

    empty = spark.createDataFrame([], "vec_id long, eq array<long>")
    inertias, cids, C = _km_driver_rounds(empty, 2)
    assert inertias == [None, None, None]
    assert cids == [] and C.shape == (0, _KM_DIM)
    assert _km_assign_df(empty, cids, C).count() == 0

    # non-empty table but no vec_id < k: same NULL trace, and the
    # assignment over REAL rows is empty (the oracle's empty a{r} CTE)
    rows = [(int(_KM_K + i), [i] * _KM_DIM) for i in range(5)]
    eqs = spark.createDataFrame(rows, "vec_id long, eq array<long>")
    inertias, cids, C = _km_driver_rounds(eqs, 1)
    assert inertias == [None, None]
    assert _km_assign_df(eqs, cids, C).count() == 0

