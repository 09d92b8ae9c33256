"""Flagship + core relational queries.

The flagship mirrors the reference's core pipeline shape — *scan →
filter time range → derive scalar columns → groupBy calendar bucket →
multi-agg → sort* (``run_area_process``, reference
``pipeline/carbonpipeline/core.py:170-257``) — expressed TPC-H-Q1-style
on ``lineitem``.

Scale notes (100 TB): this is a single scan + one hash aggregation.
The filter and the 6-column projection reach the parquet reader
(PushedFilters / ReadSchema in ``.explain``); partial aggregation
happens map-side so the shuffle carries only (few groups × agg states),
not rows. No other shuffle exists in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.helpers import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.tables import load

CUTOFF = "1998-09-02 00:00:00"


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, "lineitem", sf_dir)
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (1 + l_tax)"
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit(CUTOFF)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship: scan→filter→derive→hash-agg→sort (reference core.py:170-257 shape)",
)(pricing_summary)


@register(
    "q3_top_orders",
    f"""
    SELECT o.o_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    """,
    doc="3-way join + agg; customer dim is broadcast-joined",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority-style join query.

    Scale: customer filtered on segment is small relative to lineitem →
    Spark's AQE converts it to a broadcast join (verified in explain);
    the lineitem↔orders join shuffles on orderkey, which is also the
    aggregation key, so the groupBy reuses the join's partitioning
    (one exchange, not two).
    """
    c = load(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    l = load(spark, "lineitem", sf_dir)
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "join_inner_equi",
    """
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
    doc="plain inner equi-join, dim side broadcast",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "n_name", "c_name", "c_acctbal"
    )


@register(
    "join_left_outer",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 200000
    """,
    doc="left outer join with pushed non-equi condition",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    return c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_totalprice > 200000),
        "left",
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "join_semi",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    doc="left-semi join (reference month semi-join dataset.py:49-50 analogue)",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: restrict left to keys present on the right.

    Mirrors the reference's restriction of CO₂ months to ERA5 months
    (reference dataset.py:49-50, np.unique + sel).
    """
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_orderdate >= TIMESTAMP '1997-01-01')
    """,
    doc="left-anti join: customers with no urgent order since 1997 (filtered right side keeps the anti-set non-empty at every sf — a 0-row result would make the check vacuous)",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_parts_by_supplier_nation",
    f"""
    SELECT n.n_name AS nation, p.p_brand,
           COUNT(*) AS n_lineitems,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           {sql_davg('p.p_retailprice')} AS avg_retail
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size <= 25
    GROUP BY n.n_name, p.p_brand
    """,
    doc="4-way star join: fact ⋈ part/supplier/nation dims, all broadcast",
)
def parts_by_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema shape: lineitem is the only big side; part,
    supplier, nation are dims → three broadcast joins, zero fact-side
    shuffles before the final aggregation. The p_size filter prunes
    the part dim BEFORE the broadcast (filter-then-broadcast, never
    the reverse)."""
    l = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir).filter(F.col("p_size") <= 25)
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            dsum(rev).alias("revenue"),
            davg("p_retailprice").alias("avg_retail"),
        )
    )


@register(
    "diff_snapshots",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderkey < 2000
    ), v2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 2.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE (o_orderkey < 2000 AND o_orderkey % 17 <> 0)
         OR (o_orderkey >= 2000 AND o_orderkey < 2200)
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                ELSE 'modified' END AS change_type
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.o_custkey IS DISTINCT FROM v2.o_custkey
       OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
    """,
    doc="snapshot diff (table reconciliation): full-outer key join + "
    "null-safe column compare → added/removed/modified rows — the "
    "migration/backfill verification every table swap runs",
)
def diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two table versions (v2 = v1 with deterministic
    deletes, modifications, and inserts): full-outer join on the key,
    null-safe (`eqNullSafe` / IS DISTINCT FROM) comparison on the
    payload columns, emit only changes tagged added/removed/modified.

    Scale: one co-partitioned key join (both sides shuffle once on the
    key — or zero shuffles if both snapshots are bucketed/clustered by
    key, the usual lakehouse layout); the payload compare is
    expression-side. For wide tables, compare a precomputed row-hash
    column instead of N columns — same plan shape. Change volume, not
    table size, dominates the output.
    """
    orders = load(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v1 = orders.filter(F.col("o_orderkey") < 2000)
    v2 = orders.filter(
        ((F.col("o_orderkey") < 2000) & (F.col("o_orderkey") % 17 != 0))
        | ((F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 2200))
    ).select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") * 2.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .otherwise("modified")
    )
    differs = (
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | ~F.col("a.o_custkey").eqNullSafe(F.col("b.o_custkey"))
        | ~F.col("a.o_totalprice").eqNullSafe(F.col("b.o_totalprice"))
    )
    return j.filter(differs).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
            "o_orderkey"
        ),
        change.alias("change_type"),
    )


@register(
    "join_null_safe",
    """
    WITH e AS (
      SELECT event_id,
             CASE WHEN event_type = 'click' THEN NULL
                  ELSE CAST(FLOOR(value) AS BIGINT) % 10 END AS grp,
             value
      FROM events
    ), d AS (
      SELECT CAST(x.i AS BIGINT) AS grp_key, 'bucket_' || x.i AS grp_name
      FROM range(10) x(i)
      UNION ALL SELECT NULL, 'bucket_null'
    )
    SELECT e.event_id, d.grp_name
    FROM e JOIN d ON e.grp IS NOT DISTINCT FROM d.grp_key
    """,
    doc="null-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): null "
    "keys MATCH the null dimension row instead of dropping — the "
    "uncategorized-bucket join",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join semantics: a plain equi-join silently drops rows
    with null keys; ``eqNullSafe`` (SQL `<=>`) routes them to the
    designated null dimension row — the standard 'uncategorized'
    bucket pattern in dimension lookups.

    Scale: `<=>` still hashes as an equi-key (null hashes to a single
    value), so this broadcasts/hash-joins exactly like `=` — no
    nested-loop penalty. Beware: ALL null keys land in ONE partition's
    hash cell, so a mostly-null key column needs the salting treatment
    (see ``join_skew_salted``) before a shuffle join; here the dim is
    broadcast and it costs nothing.
    """
    ev = load(spark, "events", sf_dir)
    e = ev.select(
        "event_id",
        F.when(
            F.col("event_type") != "click",
            F.floor("value").cast("long") % 10,
        ).alias("grp"),
    )
    d = (
        spark.range(10)
        .select(
            F.col("id").alias("grp_key"),
            F.concat(F.lit("bucket_"), F.col("id")).alias("grp_name"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(None).cast("long").alias("grp_key"),
                F.lit("bucket_null").alias("grp_name"),
            )
        )
    )
    return e.join(
        F.broadcast(d), e.grp.eqNullSafe(d.grp_key)
    ).select("event_id", "grp_name")


# ---------- SQL-API surface parity ----------

# one query text, two engines: Spark SQL rejects bare VARCHAR, DuckDB
# accepts STRING as a synonym — so the shared dialect says STRING
_SQL_SURFACE = f"""
    SELECT l_linestatus,
           date_trunc('month', l_shipdate) AS ship_month,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus, date_trunc('month', l_shipdate)
""".replace("AS VARCHAR", "AS STRING")


@register(
    "sql_surface_parity",
    _SQL_SURFACE,
    doc="SQL-API parity: the IDENTICAL SQL text (quantized-decimal "
    "dialect included) executes through spark.sql over temp views AND "
    "through the DuckDB oracle — the engine's second query surface, "
    "same plan Catalyst builds for the DataFrame form",
)
def sql_surface_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users write SQL, not just DataFrames. This op registers the
    parquet table as a temp view and submits the exact oracle SQL
    string through ``spark.sql`` — the deterministic-aggregate
    dialect (FLOOR-quantize → DECIMAL(38,0) sums → string-cast
    division) is valid in both engines verbatim, so ONE query text is
    the cross-engine contract. Catalyst compiles it to the same
    pushed-filter scan + map-side-combined hash aggregate the
    DataFrame API yields.
    """
    from cs_pipeline_spark.tables import load

    load(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_SURFACE)


@register(
    "q_relational_division",
    """
    WITH divisor AS (
      SELECT DISTINCT o_orderpriority FROM orders
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_div FROM divisor),
    cust AS (
      SELECT o_custkey,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_covered,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT c.o_custkey AS custkey, c.n_orders, c.n_covered
    FROM cust c CROSS JOIN nd
    WHERE c.n_covered = nd.n_div
    """,
    doc="relational division: customers who have placed orders at "
    "EVERY priority level (÷ via distinct-count equality against the "
    "divisor cardinality) — the 'for all' query shape joins cannot "
    "express directly",
)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook ÷ operator — 'which customers have used ALL
    priority levels' — done the scalable way: instead of the
    doubly-nested NOT EXISTS (a correlated anti-join per divisor
    row), count each customer's distinct divisor values once and
    compare with the divisor's cardinality. Same answer, one
    aggregation.

    Scale: one map-side-combined distinct-count per customer (Spark
    expands COUNT DISTINCT into a two-phase partial aggregate), a
    1-row divisor count broadcast into the filter. The NOT EXISTS
    form would be |customers|·|months| probes; this is linear.
    """
    o = load(spark, "orders", sf_dir)
    divisor = o.select("o_orderpriority").distinct()
    nd = divisor.agg(F.count(F.lit(1)).cast("long").alias("n_div"))
    cust = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").cast("long").alias("n_covered"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        cust.crossJoin(F.broadcast(nd))
        .filter(F.col("n_covered") == F.col("n_div"))
        .select(
            F.col("o_custkey").alias("custkey"), "n_orders", "n_covered"
        )
    )


_SQL_LATERAL = """
    WITH natbal AS (
      SELECT n.n_regionkey, n.n_name,
             CAST(SUM(CAST(FLOOR(c.c_acctbal * 1000000.0 + 0.5)
                  AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS balq
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_regionkey, n.n_name
    )
    SELECT r.r_name, t.n_name,
           CAST(CAST(t.balq AS STRING) AS DOUBLE) / 1000000.0
             AS total_acctbal
    FROM region r,
    LATERAL (SELECT nb.n_name, nb.balq FROM natbal nb
             WHERE nb.n_regionkey = r.r_regionkey
             ORDER BY nb.balq DESC, nb.n_name LIMIT 2) t
"""


@register(
    "sql_lateral_topk",
    _SQL_LATERAL,
    doc="LATERAL correlated subquery (per-region top-2 nations by "
    "customer balance): the IDENTICAL SQL text runs through spark.sql "
    "and the DuckDB oracle — the top-N-per-group idiom in its SQL "
    "form, deterministic quantized-decimal dialect",
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LATERAL join — SQL's per-row subquery: for every region
    row, an ordered-and-limited correlated scan of the aggregate
    table. Catalyst rewrites it to the same window/limit plan the
    DataFrame row_number idiom produces (DecorrelateInnerQuery), so
    users migrating from Postgres/DuckDB keep their query text AND
    get the distributed plan. One text, two engines, hash-equal —
    extending ``sql_surface_parity`` to correlated subqueries.

    Scale: the inner table is the nation-level aggregate (tiny); the
    lateral probe decorrelates into a broadcast join + per-key rank,
    never a per-row re-execution.
    """
    load(spark, "region", sf_dir).createOrReplaceTempView("region")
    load(spark, "nation", sf_dir).createOrReplaceTempView("nation")
    load(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    return spark.sql(_SQL_LATERAL)


@register(
    "f_collation_ci",
    """
    WITH w AS (
      SELECT unnest(string_split(p_name, ' ')) AS w FROM part
      UNION ALL
      SELECT upper(substr(unnest(string_split(p_name, ' ')), 1, 1))
             || substr(unnest(string_split(p_name, ' ')), 2) FROM part
    )
    SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS n_binary,
           CAST(COUNT(DISTINCT lower(w)) AS BIGINT) AS n_ci,
           COALESCE(COUNT(DISTINCT w) = 2 * COUNT(DISTINCT lower(w)),
                    FALSE) AS case_variants_collapse
    FROM w
    """,
    doc="Spark 4 collation surface: distinct part-name words under "
    "binary vs case-insensitive (UTF8_LCASE) collation — the Title "
    "Case variants collapse under CI, pinned by the oracle; "
    "locale-aware equality without lower() rewrites",
)
def f_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): comparisons, joins, and DISTINCT
    can be declared case-insensitive at the TYPE level
    (``collate(col, 'UTF8_LCASE')``) instead of scattering lower()
    through every predicate — and unlike lower()-rewrites the
    original spelling survives for display. The op manufactures a
    Title Case variant of every part-name word (so the corpus has
    real case diversity), then counts distinct words under both
    collations; the CI count collapsing to exactly half is the
    pinned contract (the DuckDB twin models CI as lower()).

    Scale: collation-aware distinct aggregates hash the collation
    key — same two-phase partial aggregate as any COUNT(DISTINCT);
    no extra pass over the data versus the lower() rewrite.
    """
    part = load(spark, "part", sf_dir)
    words = part.select(F.explode(F.split("p_name", " ")).alias("w"))
    variants = words.select(F.initcap("w").alias("w"))
    w = words.unionAll(variants)
    return w.agg(
        F.countDistinct("w").cast("long").alias("n_binary"),
        F.countDistinct(F.expr("collate(w, 'UTF8_LCASE')"))
        .cast("long")
        .alias("n_ci"),
        F.coalesce(
            F.countDistinct("w")
            == F.lit(2) * F.countDistinct(F.expr("collate(w, 'UTF8_LCASE')")),
            F.lit(False),
        ).alias("case_variants_collapse"),
    )
