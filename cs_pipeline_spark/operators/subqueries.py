"""Subquery-shaped relational surface (engine extension).

The reference is an ETL pipeline with no subqueries; these operators
complete the relational surface a user of a general analytics engine
expects — EXISTS / scalar-subquery / top-n-per-group / conditional
aggregation / HAVING — expressed as DataFrame plans whose *shape* is
what Catalyst produces for the equivalent SQL (semi-joins, join-back
of a pre-aggregated side, ranking windows).

Determinism conventions (see ``operators/helpers.py``):
- every float aggregate goes through the quantized ``dsum``/``davg``
  path;
- threshold comparisons against an average are rewritten as exact
  integer comparisons (``5·n·q < Σq`` instead of ``q < 0.2·Σq/n``) so
  no float division sits on a branch boundary;
- ranking keys are quantized to integers before ``row_number`` and
  tie-broken by a unique key column.

Scale notes (100 TB): each docstring states which sides shuffle and
which broadcast; the common pattern is "pre-aggregate on the join key
so the join-back reuses the aggregation's partitioning" (one
exchange, not two — AQE confirms via ReusedExchange in the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.helpers import dsum, sql_dsum
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.tables import load


def _qkey(col: str) -> F.Column:
    """Quantize a double to an exact integer ranking/comparison key —
    FLOOR(x·1e6 + 0.5) is bit-identical in Spark and DuckDB (see
    helpers.py module docstring)."""
    return F.floor(F.col(col) * F.lit(1e6) + F.lit(0.5))


_QKEY_SQL = "CAST(FLOOR({c} * 1000000.0 + 0.5) AS HUGEINT)"


# ---------- EXISTS (TPC-H q4 shape) ----------


@register(
    "q_exists_late_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    doc="EXISTS decorrelation: orders with a late lineitem, count per priority (q4 shape — semi-join, not a per-row subquery)",
)
def q_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS becomes a left-semi join (exactly Catalyst's own
    decorrelation of the SQL form). Scale: both sides shuffle on
    orderkey once; the non-equi part (shipdate > orderdate + 60d)
    stays a post-join residual filter inside the same semi-join, so
    no extra pass over lineitem."""
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load(spark, "lineitem", sf_dir)
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------- scalar subquery vs per-group average (q17 shape) ----------

_Q17_QKEY = _QKEY_SQL.format(c="l_quantity")


@register(
    "q_avg_qty_threshold",
    f"""
    WITH s AS (
      SELECT l_partkey,
             CAST(COUNT(l_quantity) AS HUGEINT) AS n_qty,
             SUM({_Q17_QKEY}) AS sum_qq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_small,
           {sql_dsum('l.l_extendedprice')} AS total_price
    FROM lineitem l
      JOIN s ON s.l_partkey = l.l_partkey
      JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND 5 * {_Q17_QKEY.replace('l_quantity', 'l.l_quantity')} * s.n_qty < s.sum_qq
    """,
    doc="correlated scalar subquery (q17 shape): lineitems below 20% of their part's average quantity — exact integer comparison 5·n·q < Σq, no float threshold",
)
def q_avg_qty_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar subquery AVG(l_quantity per part) is pre-aggregated
    once and joined back on l_partkey. The threshold q < 0.2·avg is
    rewritten 5·n·q < Σq over quantized integers — exact in both
    engines, no float-division boundary.

    Scale: the stats side is part-cardinality (≪ lineitem) but too
    big to broadcast at 100 TB → shuffle join on l_partkey, which is
    the SAME key the aggregation shuffled on, so the join-back reuses
    that exchange. The part dim filter (one brand) broadcasts.
    """
    li = load(spark, "lineitem", sf_dir)
    qq = F.floor(F.col("l_quantity") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    stats = li.groupBy("l_partkey").agg(
        F.count("l_quantity").cast("decimal(20,0)").alias("n_qty"),
        F.sum(qq).alias("sum_qq"),
    )
    p = load(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#13")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(stats, "l_partkey")
        .filter(qq * F.lit(5) * F.col("n_qty") < F.col("sum_qq"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum("l_extendedprice").alias("total_price"),
        )
    )


# ---------- top-n per group ----------

_TOTALPRICE_QKEY = _QKEY_SQL.format(c="o_totalprice")


@register(
    "q_top_orders_per_nation",
    f"""
    SELECT n.n_name AS nation, o.o_orderkey, o.o_totalprice, rn FROM (
      SELECT c_nationkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY {_TOTALPRICE_QKEY} DESC, o_orderkey
             ) AS rn
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ) o JOIN nation n ON n.n_nationkey = o.c_nationkey
    WHERE rn <= 3
    """,
    doc="top-n per group: 3 largest orders per nation via row_number on a quantized ranking key (deterministic ties)",
)
def q_top_orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking key = FLOOR(o_totalprice·1e6+0.5) (exact integer, both
    engines agree) with o_orderkey as the total-order tie-break.

    Scale: orders↔customer shuffles on custkey; the ranking window
    shuffles on nationkey — low-cardinality partitions, but row_number
    only keeps 3 rows per partition and AQE coalesces. For a
    high-cardinality group key this is the standard one-shuffle
    top-n; for few groups at 100 TB prefer the per-partition
    heap pre-reduce pattern (see similarity.sim_topk_prereduce).
    """
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(_qkey("o_totalprice").desc(), F.col("o_orderkey"))
    )
    ranked = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_nationkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    return ranked.join(
        F.broadcast(n), ranked.c_nationkey == n.n_nationkey
    ).select(F.col("n_name").alias("nation"), "o_orderkey", "o_totalprice", "rn")


# ---------- conditional aggregation (q14 shape) ----------


@register(
    "q_promo_share",
    f"""
    SELECT
      {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS promo_revenue,
      {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
      100.0 * {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")}
            / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_share_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    doc="conditional aggregation (q14 shape): promo revenue share — CASE inside the aggregate, single pass, part dim broadcast",
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one broadcast join, one global aggregate; the CASE
    sits inside the aggregate so both branches ride a single pass.
    The final share is a division of two engine-exact doubles —
    correctly rounded identically in both engines."""
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load(spark, "part", sf_dir)
    rev = "l_extendedprice * (1 - l_discount)"
    promo = f"CASE WHEN p_type = 'PROMO' THEN {rev} ELSE 0.0D END"
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        dsum(promo).alias("promo_revenue"),
        dsum(rev).alias("total_revenue"),
        (F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_share_pct"),
    )


# ---------- GROUP BY + HAVING ----------


@register(
    "q_having_big_customers",
    f"""
    SELECT c.c_custkey, c.c_name, s.n_orders, s.total_spend
    FROM (
      SELECT o_custkey, COUNT(*) AS n_orders,
             {sql_dsum('o_totalprice')} AS total_spend
      FROM orders GROUP BY o_custkey
      HAVING COUNT(*) >= 15
    ) s JOIN customer c ON c.c_custkey = s.o_custkey
    """,
    doc="GROUP BY + HAVING: customers with ≥15 orders, join-back for names after the aggregate (filter-then-join, never the reverse)",
)
def q_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter. The customer join-back
    happens AFTER the aggregate+filter shrank the left side — at
    100 TB this ordering (aggregate → filter → join) is the
    difference between joining 10⁹ rows and joining the handful of
    qualifying keys."""
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    s = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )
    return s.join(c, s.o_custkey == c.c_custkey).select(
        "c_custkey", "c_name", "n_orders", "total_spend"
    )


# ---------- argmin join (q2 shape) ----------


@register(
    "q_min_cost_supplier",
    """
    SELECT p_partkey, best_suppkey, best_acctbal FROM (
      SELECT l.l_partkey AS p_partkey, s.s_suppkey AS best_suppkey,
             s.s_acctbal AS best_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY l.l_partkey
               ORDER BY s.s_acctbal, s.s_suppkey
             ) AS rn
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ) WHERE rn = 1
    """,
    doc="argmin join (q2 shape): per part, the supplier with minimal account balance — min-of-struct aggregation, no ranking shuffle",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'row with the per-group minimum' pattern. Instead of a
    ranking window (sort within every partition), aggregate
    ``min(struct(orderkey..))`` — lexicographic struct min is a plain
    partial-aggregatable min, so map-side combine applies and no
    per-group sort happens. Tie-break rides inside the struct
    (acctbal, then suppkey). The oracle uses the equivalent
    row_number formulation.

    Scale: distinct (part, supp) pairs shuffle once (the dedup);
    supplier dim broadcasts; the argmin aggregate shuffles partial
    minima only — O(parts), not O(pairs).
    """
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    joined = pairs.join(F.broadcast(s), pairs.l_suppkey == s.s_suppkey)
    best = (
        joined.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.min(
                F.struct(
                    F.col("s_acctbal").alias("a"),
                    F.col("s_suppkey").alias("k"),
                )
            ).alias("b")
        )
    )
    return best.select(
        "p_partkey",
        F.col("b.k").alias("best_suppkey"),
        F.col("b.a").alias("best_acctbal"),
    )


# ---------- threshold + anti-join composite (q22 shape) ----------


@register(
    "q_rich_inactive_customers",
    """
    WITH pos AS (SELECT c_acctbal,
                   CAST(FLOOR(c_acctbal * 1000000.0 + 0.5) AS HUGEINT) AS qb
                 FROM customer WHERE c_acctbal > 0.0),
    thr AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(qb) AS s FROM pos)
    SELECT c.c_nationkey, COUNT(*) AS n_custs,
           CAST(CAST(SUM(CAST(FLOOR(c.c_acctbal * 1000000.0 + 0.5)
             AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0 AS total_bal
    FROM customer c, thr
    WHERE CAST(FLOOR(c.c_acctbal * 1000000.0 + 0.5) AS HUGEINT) * thr.n > thr.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    """,
    doc="q22 shape: above-average balance (exact integer threshold q·n > Σq) AND no order since 2000 (anti-join on a filtered right side — keeps the cohort non-empty at every sf), grouped by nation",
)
def q_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic 'valuable but dormant' cohort: a global scalar
    threshold (avg positive balance — rewritten q·n > Σq, exact
    integers, no float boundary) intersected with an anti-join
    against orders. Scale: the 1-row threshold broadcasts; the
    anti-join shuffles on custkey (or broadcasts the distinct order
    keys if they fit); one final small aggregation."""
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    qb = F.floor(F.col("c_acctbal") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.count(F.lit(1)).cast("decimal(20,0)").alias("n"),
            F.sum(qb).alias("s"),
        )
    )
    rich = (
        c.join(F.broadcast(thr))
        .filter(qb * F.col("n") > F.col("s"))
        .drop("n", "s")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_custs"),
        dsum("c_acctbal").alias("total_bal"),
    )
