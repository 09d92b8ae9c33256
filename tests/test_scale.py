"""Scale-pattern assertions: the bucketed join must be exchange-free
and the salted join must agree with the plain join."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from cs_pipeline_spark.operators import scale
from cs_pipeline_spark.tables import load

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    t_orders, t_cust = scale.bucketed_tables(spark, SF_DIR)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join must rely on the bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o, c = spark.table(t_orders), spark.table(t_cust)
        joined = c.join(o, c.c_custkey == o.o_custkey).groupBy(
            "c_custkey"
        ).count()
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_matches_plain(spark):
    salted = {
        (r.skew_key): (r.n_rows, round(r.weighted_price, 6))
        for r in scale.join_skew_salted(spark, SF_DIR).collect()
    }
    li = load(spark, "lineitem", SF_DIR)
    fact = li.select(
        F.expr(scale._SKEW_KEY_SQL).alias("skew_key"), "l_extendedprice"
    )
    dim = spark.range(100).select(
        F.col("id").alias("skew_key"),
        (1.0 + F.col("id").cast("double") * 0.01).alias("factor"),
    )
    from cs_pipeline_spark.operators.helpers import dsum

    plain = {
        (r.skew_key): (r.n_rows, round(r.weighted_price, 6))
        for r in fact.join(dim, "skew_key")
        .groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_extendedprice * factor").alias("weighted_price"),
        )
        .collect()
    }
    assert salted == plain
    # the hot key really is hot (~70% of rows)
    total = sum(n for n, _ in plain.values())
    assert plain[0][0] / total > 0.6


def test_bloom_prefilter_selective_and_lossless(spark):
    """The bloom probe must (a) keep every true-matching lineitem row
    (no false negatives) and (b) actually shrink the fact side —
    otherwise the pre-filter is dead weight before the join shuffle."""
    survivors, o = scale.bloom_survivors(spark, SF_DIR)
    li = load(spark, "lineitem", SF_DIR)
    n_fact = li.count()
    n_surv = survivors.count()
    # true matches computed by plain semi-join
    n_true = li.join(
        o, li.l_orderkey == o.o_orderkey, "left_semi"
    ).count()
    assert n_true <= n_surv, "bloom dropped a true match (false negative)"
    assert n_surv < n_fact * 0.5, (
        f"bloom not selective: {n_surv}/{n_fact} rows survived"
    )
    # false-positive load stays small at m=64Ki bits / k=3
    assert n_surv <= n_true + 0.05 * n_fact


def test_zorder_locality_beats_linear(spark, sf_dir):
    """The point of Z-ordering: per-bucket spans are tight on BOTH
    dims, while single-column range bucketing leaves the second dim
    at ~full domain."""
    from cs_pipeline_spark.operators.scale import scan_zorder_layout

    rows = scan_zorder_layout(spark, sf_dir).collect()
    by = {}
    for r in rows:
        by.setdefault(r.strategy, []).append(r)
    assert set(by) == {"zorder", "linear"}

    def avg(rs, col):
        return sum(getattr(r, col) for r in rs) / len(rs)

    # linear buckets: x tight, y ~full domain; zorder: both bounded
    assert avg(by["linear"], "y_span") > 2 * avg(by["zorder"], "y_span")
    # both strategies partition all rows
    assert sum(r.n_rows for r in by["zorder"]) == sum(
        r.n_rows for r in by["linear"]
    )


def test_salted_skew_join_equals_plain(spark, sf_dir):
    """The salted plan's result must equal the plain join exactly —
    and the salted fact side must actually spread the hot key."""
    from pyspark.sql import functions as F

    from cs_pipeline_spark.operators.scale import join_salted_skew
    from cs_pipeline_spark.tables import load

    got = {r.seg: (r.n_rows, r.vq_total) for r in join_salted_skew(spark, sf_dir).collect()}
    ev = load(spark, "events", sf_dir)
    fact = ev.selectExpr(
        "CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END AS uid",
        "CAST(FLOOR(value * 1000000.0 + 0.5) AS LONG) AS vq",
    )
    dim = ev.selectExpr("user_id AS uid", "user_id % 7 AS seg").union(
        spark.sql("SELECT 0, 0")
    ).distinct()
    ref = {
        r.seg: (r.n, r.t)
        for r in fact.join(dim, "uid")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("vq").cast("decimal(38,0)")).cast("long").alias("t"),
        )
        .collect()
    }
    assert got == ref
