"""Property-based tests (hypothesis) for round-3 exact-arithmetic
machinery: the dyadic Holt lifting, the mergeable hash-priority
reservoir, and the integer ray-cast — each checked against an
independent formulation on random inputs, no Spark session needed."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

_P = 1000000007
_MULT = 2654435761 % _P


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                max_size=12))
def test_holt_dyadic_lifting_equals_float_recursion(xs):
    """L_t = 2·4^{t-1}x + 2L + 2B, B_t = 4^{t-1}x − L + 3B scaled by
    4^t must reproduce the α=β=1/2 float recursion exactly: every
    intermediate is a dyadic rational needing value-bits + T fraction
    bits of significand, so the equivalence holds for inputs below
    ~2^(53−T). The op's inputs (micro-quantized daily means ≲ 2^30)
    are far inside that bound; hypothesis at 1e12 legitimately breaks
    the FLOAT side, which is exactly why the engine runs the integer
    lifting."""
    l_f, b_f = float(xs[0]), 0.0
    L, B = 4 * xs[0], 0
    for t, x in enumerate(xs[1:], start=2):
        l_new = (x + l_f + b_f) / 2.0
        b_f = ((l_new - l_f) + b_f) / 2.0
        l_f = l_new
        c = 4 ** (t - 1)
        L, B = 2 * c * x + 2 * L + 2 * B, c * x - L + 3 * B
    den = 4 ** len(xs)
    assert L / den == l_f
    assert B / den == b_f


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
             max_size=200, unique=True),
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=2, max_value=8),
)
def test_reservoir_topk_is_mergeable(ids, k, shards):
    """top-k by hash priority over shard-wise top-k == global top-k."""
    pri = lambda i: ((i % _P) * _MULT) % _P  # noqa: E731
    key = lambda i: (pri(i), i)  # noqa: E731
    direct = sorted(ids, key=key)[:k]
    shard_tops = []
    for s in range(shards):
        shard = [i for i in ids if i % shards == s]
        shard_tops.extend(sorted(shard, key=key)[:k])
    merged = sorted(shard_tops, key=key)[:k]
    assert merged == direct


_POLY = [(-74.0, 45.0), (-72.5, 45.2), (-72.4, 46.6),
         (-73.3, 45.9), (-73.9, 46.7)]
_POLY_Q = [(int(round(x * 1e6)), int(round(y * 1e6))) for x, y in _POLY]


def _inside_float(px, py):
    c = False
    n = len(_POLY)
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            if px < x1 + (x2 - x1) * (py - y1) / (y2 - y1):
                c = not c
    return c


def _inside_int(pxq, pyq):
    cnt = 0
    n = len(_POLY_Q)
    for i in range(n):
        x1, y1 = _POLY_Q[i]
        x2, y2 = _POLY_Q[(i + 1) % n]
        dy, dx = y2 - y1, x2 - x1
        if (y1 > pyq) != (y2 > pyq):
            lhs = (pxq - x1) * dy
            rhs = dx * (pyq - y1)
            if (lhs < rhs) if dy > 0 else (lhs > rhs):
                cnt += 1
    return cnt % 2 == 1


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=-74_500_000, max_value=-71_500_000),
    st.integers(min_value=44_500_000, max_value=47_500_000),
)
def test_raycast_integer_matches_float(pxq, pyq):
    """The cross-product integer crossing test must agree with the
    division-based float formulation away from exact edge hits (where
    float division may round; skip the measure-zero boundary)."""
    px, py = pxq / 1e6, pyq / 1e6
    # skip points lying exactly on a vertex scanline (tie cases where
    # the two formulations may legitimately differ by edge convention)
    if any(pyq == y for _, y in _POLY_Q):
        return
    assert _inside_int(pxq, pyq) == _inside_float(px, py)


def test_lpa_partition_is_complete(spark, sf_dir):
    """LPA invariants: community sizes sum to |V|, every community
    label is a real node id, and at least one community merged (size
    > 1) on the synthetic link graph."""
    from cs_pipeline_spark.operators.graph import graph_label_propagation
    from cs_pipeline_spark.tables import load

    rows = graph_label_propagation(spark, sf_dir).collect()
    n_docs = load(spark, "documents", sf_dir).count()
    assert sum(r.size for r in rows) == n_docs
    ids = {
        r.doc_id
        for r in load(spark, "documents", sf_dir).select("doc_id").collect()
    }
    assert all(r.community in ids for r in rows)
    assert max(r.size for r in rows) > 1


def test_lpa_matches_driver_reference(spark, sf_dir):
    """Synchronous LPA replayed on the driver: each round every node
    takes its neighbours' plurality label, ties to the smallest, and a
    node without neighbours keeps its own."""
    from collections import Counter

    from cs_pipeline_spark.operators.graph import (
        _LPA_ITERS,
        _edges,
        _n_docs,
        graph_label_propagation,
    )
    from cs_pipeline_spark.tables import load

    docs = load(spark, "documents", sf_dir)
    nbrs: dict[int, set[int]] = {}
    for r in _edges(docs, _n_docs(spark, sf_dir)).collect():
        if r.src != r.dst:
            nbrs.setdefault(r.src, set()).add(r.dst)
            nbrs.setdefault(r.dst, set()).add(r.src)
    label = {r.doc_id: r.doc_id for r in docs.select("doc_id").collect()}
    for _ in range(_LPA_ITERS):
        new = {}
        for v, own in label.items():
            votes = Counter(label[u] for u in nbrs.get(v, ()) if u in label)
            new[v] = min(votes, key=lambda x: (-votes[x], x)) if votes else own
        label = new
    want = Counter(label.values())
    got = {
        r.community: r.size
        for r in graph_label_propagation(spark, sf_dir).collect()
    }
    assert got == dict(want)


def test_ljung_box_composes_acf(spark, sf_dir):
    """Q must equal the hand-computed statistic from the registered
    ACF output (same quantization pipeline), and the verdict must
    follow the chi2(3) 95% cut."""
    import math

    from cs_pipeline_spark.operators.windows import (
        agg_acf_lags,
        agg_ljung_box,
    )

    acf = [
        r
        for r in agg_acf_lags(spark, sf_dir).collect()
        if r.lag_hours in (1, 2, 3)
    ]
    got = {r.event_type: r for r in agg_ljung_box(spark, sf_dir).collect()}
    by_type: dict[str, list] = {}
    for r in acf:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        if len(rs) != 3:
            assert et not in got
            continue
        n = max(r.n_pairs + r.lag_hours for r in rs)
        stq = sum(
            math.floor(r.acf * r.acf / (n - r.lag_hours) * 1e12 + 0.5)
            for r in rs
        )
        qq = math.floor(float(n * (n + 2)) * float(stq) / 1e12 * 1e6 + 0.5)
        assert abs(got[et].lb_q - qq / 1e6) < 1e-12, et
        assert got[et].autocorrelated == (qq >= 7814728), et


def test_js_divergence_bounds(spark, sf_dir):
    """JS in bits is bounded [0, 1]; a source whose language mix
    equals the global mix would score ~0 — all real sources score
    strictly inside the bounds on this corpus."""
    from cs_pipeline_spark.operators.corpus import corpus_js_divergence

    rows = corpus_js_divergence(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.js_bits <= 1.0 + 1e-9, r
        assert r.n_docs > 0
