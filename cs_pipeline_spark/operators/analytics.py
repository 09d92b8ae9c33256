"""Multi-join analytic query shapes (TPC-H q5/q9/q18/q19 analogues)
plus event-funnel analysis.

These widen the relational surface beyond the reference's ETL queries
(reference `pipeline/carbonpipeline/core.py` joins at most two frames at
a time — `main.py:240-280` CO₂/WTD enrichment): a user of a general
engine runs star-schema joins with region/nation dimension chains,
HAVING-gated semi-joins, and disjunctive pushdown predicates daily.

Scale notes (100 TB): in every query here the fact table (`lineitem` /
`orders` / `events`) streams through broadcast hash joins against the
filtered dimensions; the only shuffles are (a) the orders⇄lineitem
key join, which AQE plans as SMJ/shuffled-hash on the *pre-filtered*
fact sides, and (b) the final few-group aggregation, whose partial
(map-side) combine means the wire carries agg states, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from cs_pipeline_spark.operators.helpers import dsum, sql_dsum, with_total_rank, one_part
from cs_pipeline_spark.registry import pin, register
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="6-table star join, region→nation→supplier dim chain broadcast",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier sit in the same ASIA nation.

    Scale: region⋈nation collapses to ≤25 rows and is broadcast into
    supplier; the (supplier × nation) side stays dimension-sized and is
    broadcast into lineitem, so the 100 TB fact never shuffles for the
    dimension chain. The only fact shuffle is orders⇄lineitem on
    orderkey (both sides pre-filtered by the date pushdown); the final
    groupBy has ≤25 groups → map-side partial agg carries the wire.
    """
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")

    dim = s.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        s.s_nationkey == n.n_nationkey,
    ).select("s_suppkey", "s_nationkey", "n_name")
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(dim),
            (li.l_suppkey == dim.s_suppkey) & (c.c_nationkey == dim.s_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(rev).alias("revenue"))
    )


@register(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation,
           EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)'
                     ' - p.p_retailprice * l.l_quantity')} AS sum_profit
    FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
    doc="q9-shape profit rollup by supplier nation × order year",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp table in this corpus, so cost =
    retail price × quantity): profit per supplier-nation per year for
    '%widget%' parts.

    Scale: the `p_name LIKE` filter prunes part before its broadcast;
    supplier⋈nation is dimension-sized and broadcast. The fact flows
    through two broadcasts, one shuffle against orders on orderkey, and
    a (25 nations × ~7 years)-group aggregation — partial agg makes the
    final shuffle negligible. `LIKE '%…%'` cannot prune row groups, but
    it is still evaluated in the scan operator (no extra pass).
    """
    p = load(spark, "part", sf_dir).filter(F.col("p_name").like("%widget%"))
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)
    o = load(spark, "orders", sf_dir)
    n = load(spark, "nation", sf_dir)

    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    profit = "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity"
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit).alias("sum_profit"))
    )


@register(
    "q18_large_orders",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, {sql_dsum('l.l_quantity')} AS sum_qty
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING {sql_dsum('l_quantity')} > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    doc="q18-shape: HAVING-gated semi-join selecting large-volume orders",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds 300,
    with their customer.

    Scale: the HAVING aggregate reduces lineitem to (orderkey, sum) —
    after the >300 filter this survivor set is tiny (heavy-hitter tail),
    so it is broadcast back as a semi-join filter onto lineitem and
    orders; the re-aggregation then runs on a fact already cut to the
    survivors. The expensive full-fact aggregation happens exactly once
    and ships only agg states (map-side combine on orderkey).
    """
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir)
    li = load(spark, "lineitem", sf_dir)

    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="q19-shape disjunctive predicate over a broadcast join",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of brand/size/quantity
    conjunctions.

    Scale: Catalyst factors the disjunction — the part-only disjuncts
    (`p_brand ∈ {…} AND size ranges`) are extracted and pushed below the
    join onto the part scan, and `l_quantity BETWEEN 1 AND 30` (the
    hull of the quantity disjuncts) is pushed onto the lineitem scan —
    so both inputs shrink before the broadcast join; the residual OR
    runs post-join. Single-row output: the aggregation is all map-side.
    """
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir)
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = "l_extendedprice * (1 - l_discount)"
    return j.filter(cond).agg(dsum(rev).alias("revenue"))


@register(
    "events_funnel",
    """
    WITH first_signup AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_view AS (
      SELECT e.user_id, min(e.ts) AS view_ts
      FROM events e JOIN first_signup s ON e.user_id = s.user_id
      WHERE e.event_type = 'view' AND e.ts > s.signup_ts
      GROUP BY e.user_id
    ),
    first_purchase AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN first_view v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.view_ts
      GROUP BY e.user_id
    )
    SELECT 1 AS stage, 'signup' AS step,
           (SELECT count(*) FROM first_signup) AS users
    UNION ALL
    SELECT 2, 'view', (SELECT count(*) FROM first_view)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM first_purchase)
    """,
    doc="ordered signup→view→purchase funnel with strict event ordering",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users counted at each stage only if
    the stage event happened strictly after their previous stage.

    Scale: one scan of events, three per-user min-aggregations — each a
    shuffle on user_id, and Spark reuses the same hash partitioning for
    all three (one real exchange of the fact, then co-partitioned
    joins). Stage frames shrink monotonically; the final counts are
    single-row map-side aggs.
    """
    ev = load(spark, "events", sf_dir)

    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    view = (
        ev.filter(F.col("event_type") == "view")
        .join(signup, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(view, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    rows = [
        (1, "signup", signup),
        (2, "view", view),
        (3, "purchase", purchase),
    ]
    out = None
    for stage, step, df in rows:
        one = df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(stage).alias("stage"), F.lit(step).alias("step"), "users"
        )
        out = one if out is None else out.unionAll(one)
    return out


@register(
    "q6_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="q6-shape selective scan: every predicate (timestamp range + two "
    "double ranges) reaches the parquet reader as a pushed filter",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: a pure scan-side query — no join, no window.

    Scale: this query IS its scan. All four predicates (including the
    two on double columns) appear in PushedFilters, so row groups
    outside the shipdate year or the discount band are skipped from
    footer statistics alone; the projection prunes to 4 columns. The
    aggregation is a single map-side partial → one-row exchange. This
    is the query shape that motivated keeping table loaders
    projection-free (see ``tables.nan_to_null``): any ingest-side
    column wrapping would strip PushedFilters and force a full scan.
    """
    li = load(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1994-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1995-01-01 00:00:00")))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum("l_extendedprice * l_discount").alias("revenue"))
    )


@register(
    "q7_volume_shipping",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
      JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="q7-shape: bidirectional two-nation trade volume, nation dim "
    "joined twice (supplier side and customer side) under one scan",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between NATION_1 and NATION_2 in
    either direction, by supplier nation × customer nation × ship year.

    Scale: the nation dimension enters twice under different aliases
    (supplier-side and customer-side) — both collapse with their parent
    dims (supplier⋈nation, customer⋈nation) into broadcast inputs, so
    the fact crosses the wire only for the orders⇄lineitem key join.
    The symmetric two-nation disjunction is evaluated post-join on
    dimension columns (25² combinations — trivially cheap); the
    shipdate range is pushed to the lineitem scan. ≤ 2 nations ×
    2 years of output groups → all map-side partial aggregation.
    """
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    o = load(spark, "orders", sf_dir)
    c = load(spark, "customer", sf_dir)
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)

    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(rev).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    WITH vol AS (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type IN ('STANDARD', 'LARGE')
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           {sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")}
             AS focal_volume,
           {sql_dsum('volume')} AS total_volume
    FROM vol GROUP BY o_year
    """,
    doc="q8-shape: national market share via conditional aggregation "
    "over an 8-table star (share numerator and denominator in one pass)",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of AMERICA-region STANDARD/LARGE-part
    order volume per year — numerator (conditional sum) and denominator
    (total sum) computed in the same aggregation pass.

    The share itself (numerator/denominator) is left to the caller: a
    single float division, trivially derivable from the two exact
    quantized sums returned (returning both keeps the hash check on
    integer-exact ground instead of a float ratio).

    Scale: every dimension chain (region→nation→customer,
    nation→supplier, filtered part) is broadcast; the fact shuffles
    once on orderkey. The conditional sum rides the same aggregate
    buffer layout as the total — one pass, two accumulators, ≤ 2
    output groups.
    """
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir).filter(F.col("p_type").isin("STANDARD", "LARGE"))
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    c = load(spark, "customer", sf_dir)
    n = load(spark, "nation", sf_dir)
    r = load(spark, "region", sf_dir).filter(F.col("r_name") == "AMERICA")
    s = load(spark, "supplier", sf_dir)

    cn = c.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        c.c_nationkey == n.n_nationkey,
    ).select("c_custkey")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    volume = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(
                f"CASE WHEN supp_nation = 'NATION_3' THEN {volume} ELSE 0.0D END"
            ).alias("focal_volume"),
            dsum(volume).alias("total_volume"),
        )
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1995-10-01'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="q10-shape: lost-revenue ranking of customers with returned "
    "items — wide grouping key, TakeOrdered top-20",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue on returned ('R')
    lineitems in a quarter.

    Total order (revenue desc, custkey asc) makes the LIMIT
    deterministic for the hash check.

    Scale: both fact filters (returnflag, orderdate range) are pushed
    into their scans before the orderkey shuffle join; customer⋈nation
    is broadcast. The grouping key is wide (4 columns) but functionally
    dependent on c_custkey, so cardinality stays ≤ |customer|; the
    top-20 is TakeOrderedAndProject — no global sort materialization.
    """
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-10-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-01-01")))
    )
    li = load(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    n = load(spark, "nation", sf_dir)
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q12_priority_shipping",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-01-01'
    GROUP BY l.l_linestatus
    """,
    doc="q12-shape: priority-split conditional counts per line status "
    "(integer-only aggregates, no quantization needed)",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (this corpus has no l_shipmode/commitdate, so
    the split dimension is order priority over a shipdate year):
    high- vs low-priority line counts per line status.

    Scale: the shipdate range is pushed to the lineitem scan; the only
    fact shuffle is the orderkey join (both sides pre-filtered). The
    CASE-counts are pure integer accumulators — exact on any engine,
    bit-stable with zero quantization machinery — and with ≤ 2 output
    groups the final exchange carries a handful of agg states.
    """
    o = load(spark, "orders", sf_dir)
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-01-01")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
        LEFT OUTER JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="q13-shape: two-level aggregation — per-customer order counts "
    "(null-preserving outer join) re-aggregated into a distribution",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    excluding urgent orders, with zero-order customers kept via the
    left outer join (COUNT of the nullable orderkey → 0, not 1).

    Scale: the join predicate's non-key conjunct (priority filter)
    prunes orders before the join; the first aggregation shuffles on
    custkey (the join key — AQE reuses the partitioning), the second
    on the tiny c_count domain (≤ tens of values) where map-side
    combine collapses nearly everything. Integer-only — no
    quantization needed.
    """
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q20_excess_shippers",
    f"""
    WITH promo_qty AS (
      SELECT l.l_suppkey, {sql_dsum('l.l_quantity')} AS promo_qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
      GROUP BY l.l_suppkey
      HAVING {sql_dsum('l.l_quantity')} > 1500
    )
    SELECT s.s_suppkey, s.s_name, n.n_name, pq.promo_qty
    FROM supplier s
      JOIN promo_qty pq ON pq.l_suppkey = s.s_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
    doc="q20-shape: HAVING-gated supplier selection by aggregated PROMO "
    "shipment volume, survivors joined back to dims",
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp/availqty in this corpus, so
    'excess' = aggregate shipped PROMO quantity over threshold):
    suppliers who moved > 1500 units of PROMO parts, with their nation.

    Scale: the part filter prunes before its broadcast into lineitem;
    the fact aggregates once on suppkey (map-side combine), and only
    the HAVING survivors — a small set — join back to the
    dimension-sized supplier⋈nation. The expensive side (fact agg)
    happens exactly once; everything after operates on survivors.
    """
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    s = load(spark, "supplier", sf_dir)
    n = load(spark, "nation", sf_dir)

    pq = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("promo_qty"))
        .filter(F.col("promo_qty") > 1500)
    )
    return (
        s.join(pq, s.s_suppkey == pq.l_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "promo_qty")
    )


@register(
    "q21_blocking_suppliers",
    """
    WITH per_supp AS (
      SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ), lvl1 AS (
      SELECT l_orderkey, l_suppkey, supp_last,
             MAX(supp_last) OVER wo AS order_last,
             COUNT(*) OVER wo AS n_supp
      FROM per_supp WINDOW wo AS (PARTITION BY l_orderkey)
    ), tagged AS (
      SELECT l_orderkey, l_suppkey, supp_last, order_last, n_supp,
             SUM(CASE WHEN supp_last = order_last THEN 1 ELSE 0 END)
               OVER (PARTITION BY l_orderkey) AS n_at_max
      FROM lvl1
    )
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM tagged t JOIN supplier s ON s.s_suppkey = t.l_suppkey
    WHERE t.n_supp >= 2 AND t.n_at_max = 1 AND t.supp_last = t.order_last
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    doc="q21-shape: sole-latest-shipper detection on multi-supplier "
    "orders (exists/not-exists correlation folded into one window pass)",
)
def q21_blocking_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no commit/receipt dates here, so 'kept the
    order waiting' = was the unique latest shipper): for orders with
    suppliers S ≥ 2, find the supplier whose last shipment is strictly
    after every other supplier's, and rank suppliers by how many
    orders they blocked.

    The reference Q21 phrases this as EXISTS(other supplier) AND NOT
    EXISTS(other late supplier); both correlations collapse into one
    per-order window count over the (order, supplier) pre-aggregate —
    two shuffles total (suppkey-grouped pre-agg on the orderkey
    partitioning, then the window on orderkey), instead of two
    correlated self-joins of the fact.

    Scale: per_supp shrinks lineitem to one row per (order, supplier)
    BEFORE any window work; the window partitions by orderkey (tiny
    groups, streaming frame). The final supplier join is broadcast and
    the top-10 is TakeOrdered.
    """
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir)

    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last")
    )
    wo = Window.partitionBy("l_orderkey")
    tagged = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "supp_last",
        F.max("supp_last").over(wo).alias("order_last"),
        F.count(F.lit(1)).over(wo).alias("n_supp"),
    ).withColumn(
        "n_at_max",
        F.sum(
            F.when(F.col("supp_last") == F.col("order_last"), 1).otherwise(0)
        ).over(wo),
    )
    return (
        tagged.filter(
            (F.col("n_supp") >= 2)
            & (F.col("n_at_max") == 1)
            & (F.col("supp_last") == F.col("order_last"))
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


_CONV_WINDOW_US = 7 * 86400 * 1000000  # 7-day conversion window
_WEEK_US_F = 7 * 86400 * 1000000


@register(
    "agg_funnel_windowed",
    f"""
    WITH s AS (
      SELECT user_id, MIN(epoch_us({EVENTS_TS_SQL})) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(epoch_us({EVENTS_TS_SQL})) AS conv_us
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us({EVENTS_TS_SQL}) > s.signup_us
        AND epoch_us({EVENTS_TS_SQL}) <= s.signup_us + {_CONV_WINDOW_US}
      GROUP BY e.user_id
    )
    SELECT CAST(s.signup_us // {_WEEK_US_F} AS BIGINT) AS cohort_wk,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(COUNT(p.user_id) AS BIGINT) AS n_converted_7d
    FROM s LEFT JOIN p ON p.user_id = s.user_id
    GROUP BY 1
    """,
    doc="windowed conversion funnel: signups converting to purchase "
    "within 7 days, per acquisition week — the time-bound funnel "
    "(events_funnel is the unbounded ordering chain)",
)
def agg_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-WINDOW funnel: a signup counts as converted only if
    a purchase follows within 7 days — the business-metric variant of
    ``events_funnel`` (which requires ordering but no deadline).
    Integer epoch-µs bounds; one left join preserves non-converters.

    Scale: both stage frames are per-user min-aggregates on the same
    user partitioning; the left join and final weekly rollup ride it.
    Conversion deadlines use integer µs arithmetic — no calendar
    edge cases, no floats.
    """
    ev = load(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("signup_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(
            (F.col("us") > F.col("signup_us"))
            & (F.col("us") <= F.col("signup_us") + _CONV_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("conv_us"))
    )
    return (
        s.join(p, "user_id", "left")
        .groupBy(
            F.expr(f"signup_us div {_WEEK_US_F}")
            .cast("long")
            .alias("cohort_wk")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signups"),
            F.count("conv_us").cast("long").alias("n_converted_7d"),
        )
    )


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="q15-shape: top-revenue supplier via scalar-subquery max over a "
    "derived revenue view (the argmax-over-aggregate pattern)",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue
    — an aggregate-of-aggregate argmax: the revenue view is computed
    once, its max becomes a scalar filter on itself.

    Scale: the revenue view is one map-side-combined aggregation of
    the date-pruned fact; the scalar max is a single-row reduction
    Spark broadcasts into the filter (no second scan of lineitem —
    the view is reused, visible as ReusedExchange in the plan). The
    supplier join touches only the argmax survivors. Exact quantized
    revenue ⇒ the equality filter is safe (float `=` would be a
    correctness bug with engine-divergent sums).
    """
    li = load(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    s = load(spark, "supplier", sf_dir)
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum("l_extendedprice * (1 - l_discount)").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(s, rev.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q11_important_stock",
    """
    WITH ps AS (
      SELECT l.l_partkey,
             SUM(CAST(FLOOR(l.l_extendedprice * 1000000.0 + 0.5)
                 AS HUGEINT)) AS vq
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey = 1
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT SUM(vq) AS t FROM ps)
    SELECT ps.l_partkey AS p_partkey,
           CAST(CAST(ps.vq AS VARCHAR) AS DOUBLE) / 1000000.0 AS part_value
    FROM ps, tot
    WHERE ps.vq * 500 > tot.t
    """,
    doc="q11-shape: important-stock selection — per-part value share vs "
    "a global scalar-subquery threshold (exact integer comparison "
    "vq·500 > Σvq, no float boundary); partsupp stands in as the "
    "distinct part-supplier value mass from lineitem",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value (restricted to one
    supplier nation) exceeds 1/500 of the national total — the
    'important stock' report. The share threshold is an exact integer
    comparison over quantized sums (vq·500 > Σvq): no float division
    sits on the keep/drop boundary, so both engines agree bit-for-bit
    even for parts exactly at the threshold.

    Scale: supplier is dimension-sized → the nation filter broadcasts
    into the fact scan; one map-side-combined groupBy(partkey); the
    1-row total broadcasts back into the filter (Spark reuses the
    aggregated view — no second lineitem scan). Output is
    O(qualifying parts), ≪ fact.
    """
    li = load(spark, "lineitem", sf_dir)
    s = load(spark, "supplier", sf_dir).filter(F.col("s_nationkey") == 1)
    vq = F.floor(F.col("l_extendedprice") * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    ps = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(vq).alias("vq"))
    )
    tot = ps.agg(F.sum("vq").alias("t"))
    return (
        ps.join(F.broadcast(tot))
        .filter(F.col("vq") * F.lit(500) > F.col("t"))
        .select(
            "p_partkey",
            (F.col("vq").cast("string").cast("double") / F.lit(1e6)).alias(
                "part_value"
            ),
        )
    )


@register(
    "q16_parts_supplier_count",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="q16-shape: distinct-supplier count per (brand, type, size) "
    "excluding blacklisted suppliers (NOT IN → broadcast anti-join); "
    "part-supplier relation derived from lineitem",
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide parts
    of each (brand, type, size), excluding suppliers on a complaint
    blacklist (here: negative account balance). The NOT IN subquery
    becomes a broadcast left-anti join — Catalyst's own decorrelation,
    made explicit.

    Scale: the (part, supp) relation is deduped FIRST (one shuffle on
    the pair — map-side combine removes per-file repeats), then
    filtered by the broadcast part dim and broadcast anti-joined
    against the tiny blacklist; COUNT(DISTINCT) re-shuffles only the
    surviving pairs on the 3-column group key. The fact table itself
    never shuffles twice.
    """
    li = load(spark, "lineitem", sf_dir)
    p = load(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load(spark, "supplier", sf_dir).filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(bad, pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "features_user_rfm",
    f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us({EVENTS_TS_SQL}) AS us,
             CAST(date_trunc('day', {EVENTS_TS_SQL}) AS DATE) AS d,
             value
      FROM events
    ), anchor AS (
      SELECT MAX(us) AS max_us FROM e
    ), u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS active_days,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS n_purchases,
             {sql_dsum("CASE WHEN event_type = 'purchase' THEN value END")}
               AS monetary,
             MAX(us) AS last_us,
             MIN(us) AS first_us
      FROM e GROUP BY user_id
    )
    SELECT u.user_id, u.n_events, u.active_days, u.n_purchases,
           u.monetary,
           CAST((a.max_us - u.last_us) // 86400000000 AS BIGINT)
             AS recency_days,
           CAST((u.last_us - u.first_us) // 86400000000 AS BIGINT)
             AS tenure_days,
           CAST(u.n_events * 1000000 // u.active_days AS BIGINT)
             AS events_per_day_ppm,
           CAST(u.n_purchases * 1000000 // u.n_events AS BIGINT)
             AS purchase_rate_ppm
    FROM u CROSS JOIN anchor a
    """,
    doc="feature-store materialization: per-user RFM features "
    "(recency vs corpus anchor, frequency, monetary on the quantized "
    "path) plus integer-ppm rates — one fact shuffle",
)
def features_user_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-engineering job a churn/LTV model trains on:
    Recency (days since last event, against the corpus max as the
    snapshot anchor), Frequency (events, active days, events/day),
    Monetary (purchase value via the exact quantized sum), plus
    tenure and purchase-rate ppm.

    Integer discipline: all day arithmetic is integer-µs floor
    division (non-negative operands — `div`/`//` agree), rates are
    exact integer ppm, money rides ``dsum``. Every feature is
    bit-identical across engines and partitionings — the property a
    feature store needs for training/serving skew audits.

    Scale: ONE shuffle of the fact stream (groupBy user_id,
    map-side combined; the conditional purchase aggregates ride the
    same pass). The snapshot anchor is a 1-row aggregate broadcast
    into the final projection. At 100 TB this is the canonical
    "daily feature snapshot" batch: partition output by user bucket,
    MERGE into the store (see ``merge_upsert_snapshot``).
    """
    ev = load(spark, "events", sf_dir).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        "value",
    )
    anchor = F.broadcast(ev.agg(F.max("us").alias("max_us")))
    pv = "CASE WHEN event_type = 'purchase' THEN value END"
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("d").alias("active_days"),
        F.count(F.expr(pv)).alias("n_purchases"),
        dsum(pv).alias("monetary"),
        F.max("us").alias("last_us"),
        F.min("us").alias("first_us"),
    )
    day_us = 86400000000
    return u.crossJoin(anchor).select(
        "user_id",
        "n_events",
        "active_days",
        "n_purchases",
        "monetary",
        F.expr(f"(max_us - last_us) div {day_us}")
        .cast("long")
        .alias("recency_days"),
        F.expr(f"(last_us - first_us) div {day_us}")
        .cast("long")
        .alias("tenure_days"),
        F.expr("n_events * 1000000 div active_days")
        .cast("long")
        .alias("events_per_day_ppm"),
        F.expr("n_purchases * 1000000 div n_events")
        .cast("long")
        .alias("purchase_rate_ppm"),
    )


_MB_TOP = 20


@register(
    "agg_market_basket",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), n_ord AS (
      SELECT COUNT(DISTINCT ok) AS n FROM items
    ), item_cnt AS (
      SELECT pk, COUNT(*) AS c FROM items GROUP BY pk
    ), pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS c
      FROM items a JOIN items b ON b.ok = a.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ), top AS (
      SELECT pa, pb, c FROM (
        SELECT pa, pb, c, ROW_NUMBER() OVER (
          ORDER BY c DESC, pa, pb) AS rn
        FROM pairs) t
      WHERE rn <= {_MB_TOP}
    )
    SELECT t.pa, t.pb, CAST(t.c AS BIGINT) AS n_cooccur,
           CAST(t.c * 1000000 // n_ord.n AS BIGINT) AS support_ppm,
           (FLOOR((CAST(t.c AS DOUBLE) / ca.c) * 1000000000.0 + 0.5)
              / 1000000000.0) AS confidence,
           (FLOOR((CAST(t.c AS DOUBLE) * n_ord.n / (ca.c * cb.c))
              * 1000000000.0 + 0.5) / 1000000000.0) AS lift
    FROM top t
    JOIN item_cnt ca ON ca.pk = t.pa
    JOIN item_cnt cb ON cb.pk = t.pb
    CROSS JOIN n_ord
    """,
    doc=f"market-basket analysis: top-{_MB_TOP} part co-occurrence "
    "pairs within orders with support/confidence/lift — pair "
    "generation blocked by order (bounded key), exact integer counts",
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over order baskets: which parts sell
    together. Support (ppm of orders containing both), confidence
    (P(b|a)), and lift (observed/expected co-occurrence) from exact
    integer counts; each output ratio is one float division of exact
    integers, floor-quantized to 1e-9 (ratios of counts land on
    decimal ties — the ``dround`` rationale).

    Scale: ONE shuffle of the (order, part) projection builds sorted
    basket arrays; the k² ordered pairs are generated expression-side
    (basket sizes are bounded — ≤7 items/order in TPC-H — so the
    fan-out is O(orders·k²) with no unbounded stage and NO self-join;
    the a⋈b form would move the fact table twice). Item/order totals
    derive from the same basket table. The top-N is orderBy+limit —
    TakeOrderedAndProject's per-partition heaps, never a
    single-partition rank window over all pairs.
    """
    li = load(spark, "lineitem", sf_dir)
    raw = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # ONE shuffle of the fact projection: collect_set dedups within
    # the basket (no separate DISTINCT pass), sort_array makes the
    # array order-independent. Order count, per-item counts, and the
    # k² ordered pairs all derive from the basket table — zero
    # self-join, zero second fact shuffle (the a⋈b form moved the
    # fact table twice and hash-joined it).
    # pinned (r11): three branches (order count, item counts, pair
    # fan-out) consume the basket table — unpinned, the exchange is
    # reused but the collect_set aggregate re-executes per branch
    baskets = pin(
        raw.groupBy("ok").agg(
            F.sort_array(F.collect_set("pk")).alias("ps")
        )
    )
    n_ord = F.broadcast(baskets.agg(F.count(F.lit(1)).alias("n")))
    # pinned: ca and cb below are two broadcast builds over this
    item_cnt = pin(
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # r11: pair fan-out as posexplode + slice-explode instead of the
    # interpreted flatten(transform(.., transform(slice(..)))) lambda
    # chain — explode/slice are codegen generators while the nested
    # lambda built struct arrays per basket in the interpreted
    # evaluator (noop A/B at sf0.1: pair stage + agg 1.61 -> 1.00 s).
    # Identical pairs: ps is sorted-distinct, so elements after
    # position i are exactly the ordered (pa < pb) partners.
    pairs = (
        baskets.select("ps", F.posexplode("ps").alias("i", "pa"))
        .select(
            "pa",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # distributed top-N: orderBy+limit plans TakeOrderedAndProject
    # (per-partition heaps merged on the driver) — the global
    # row_number window would haul every pair into ONE partition
    top = pairs.orderBy(F.desc("c"), F.asc("pa"), F.asc("pb")).limit(
        _MB_TOP
    )
    ca = item_cnt.select(F.col("pk").alias("pa"), F.col("c").alias("ca"))
    cb = item_cnt.select(F.col("pk").alias("pb"), F.col("c").alias("cb"))
    q9 = lambda c: F.floor(c * 1000000000.0 + F.lit(0.5)) / 1000000000.0  # noqa: E731
    return (
        top.join(ca, "pa")
        .join(cb, "pb")
        .crossJoin(n_ord)
        .select(
            "pa",
            "pb",
            F.col("c").cast("long").alias("n_cooccur"),
            F.expr("c * 1000000 div n").cast("long").alias("support_ppm"),
            q9(F.col("c").cast("double") / F.col("ca")).alias("confidence"),
            q9(
                F.col("c").cast("double")
                * F.col("n")
                / (F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
    )


@register(
    "agg_churn_hazard",
    f"""
    WITH u AS (
      SELECT user_id,
             (MAX(epoch_us({EVENTS_TS_SQL}))
              - MIN(epoch_us({EVENTS_TS_SQL}))) // 86400000000 AS tenure_d
      FROM events GROUP BY user_id
    ), k AS (
      SELECT tenure_d, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM u GROUP BY tenure_d
    )
    SELECT tenure_d AS tenure_days, n_churned,
           CAST(SUM(n_churned) OVER (ORDER BY tenure_d DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk,
           CAST(n_churned * 1000000 // SUM(n_churned) OVER (
                ORDER BY tenure_d DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS hazard_ppm
    FROM k
    """,
    doc="survival-analysis hazard curve: per tenure day, users whose "
    "observed lifetime ends there vs users still at risk, hazard in "
    "integer ppm — the Kaplan-Meier ingredient without float products",
)
def agg_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard: for each tenure length (days
    between a user's first and last observed event), how many users'
    lifetimes end exactly there (``n_churned``) out of those that
    survived at least that long (``n_at_risk`` — the reverse
    cumulative sum). ``hazard_ppm = churned/at_risk`` is the discrete
    hazard rate h(k); a Kaplan-Meier curve is Π(1−h) over these rows,
    left to the (driver-side) consumer because float products are the
    one thing this engine's determinism discipline avoids — every
    number emitted here is an exact integer or an integer floor-ratio.

    Scale: one fact shuffle to per-user lifetimes (map-side combined
    min/max), one count per tenure day, and a window over the tiny
    tenure spine. The right-censoring caveat (users active at the
    snapshot edge haven't truly churned) is a semantic note for the
    consumer — the reference-free lifetimes are what the data
    supports.
    """
    ev = load(spark, "events", sf_dir)
    day_us = 86400000000
    u = ev.groupBy("user_id").agg(
        (
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
        ).alias("span_us")
    )
    k = u.select(
        F.expr(f"span_us div {day_us}").alias("tenure_days")
    ).groupBy("tenure_days").agg(F.count(F.lit(1)).alias("n_churned"))
    w = (
        Window.partitionBy(one_part("tenure_days")).orderBy(F.desc("tenure_days"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    at_risk = F.sum("n_churned").over(w)
    return k.select(
        "tenure_days",
        F.col("n_churned").cast("long").alias("n_churned"),
        at_risk.cast("long").alias("n_at_risk"),
        F.expr(
            "n_churned * 1000000"
        ).cast("long").alias("_num"),
    ).withColumn(
        "hazard_ppm", F.expr("_num div n_at_risk").cast("long")
    ).drop("_num")


@register(
    "agg_ltv_cohort_curve",
    f"""
    WITH e AS (
      SELECT user_id, event_type, value,
             epoch_us({EVENTS_TS_SQL}) // 604800000000 AS wk
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id
    ), cohort_size AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM firsts GROUP BY cohort_wk
    ), wkrev AS (
      SELECT f.cohort_wk, e.wk - f.cohort_wk AS week_offset,
             CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN
               CAST(FLOOR(e.value * 1000000.0 + 0.5) AS HUGEINT)
               ELSE 0 END) AS BIGINT) AS rev_q
      FROM e JOIN firsts f ON f.user_id = e.user_id
      GROUP BY f.cohort_wk, e.wk - f.cohort_wk
    )
    SELECT w.cohort_wk, CAST(w.week_offset AS BIGINT) AS week_offset,
           s.n_users,
           CAST(w.rev_q AS DOUBLE) / 1000000.0 AS week_revenue,
           CAST(SUM(CAST(w.rev_q AS HUGEINT)) OVER (
                PARTITION BY w.cohort_wk ORDER BY w.week_offset
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0
             AS cum_revenue,
           CAST(SUM(CAST(w.rev_q AS HUGEINT)) OVER (
                PARTITION BY w.cohort_wk ORDER BY w.week_offset
                ROWS UNBOUNDED PRECEDING) // s.n_users AS BIGINT)
             AS ltv_per_user_micro
    FROM wkrev w JOIN cohort_size s ON s.cohort_wk = w.cohort_wk
    """,
    doc="cohort LTV curve: cumulative purchase revenue per acquisition "
    "week x week offset, plus integer-micro LTV per cohort user — the "
    "monetized twin of agg_retention_cohorts",
)
def agg_ltv_cohort_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curve by acquisition cohort: how much cumulative
    purchase revenue each weekly cohort has produced k weeks after
    acquisition, absolute and per acquired user — the payback-period
    table growth teams read against acquisition cost.

    Exactness: weekly revenue is summed as quantized integer micros
    (the ``dsum`` integer path kept in integer form through the
    cumulative window — the cumsum never touches floats), and LTV per
    user is an integer floor-ratio in micros.

    Scale: one fact shuffle for the first-seen reduce, one for the
    (cohort, offset) rollup; the cumulative window runs on the
    cohort×offset spine (weeks², not events). Same shape as
    ``agg_retention_cohorts`` with a monetary measure.
    """
    ev = load(spark, "events", sf_dir)
    wk_us = 604800000000
    e = ev.select(
        "user_id",
        "event_type",
        "value",
        F.expr(f"unix_micros(ts) div {wk_us}").alias("wk"),
    )
    firsts = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cohort_size = firsts.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rev_q = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast(
                "decimal(38,0)"
            ),
        ).otherwise(F.lit(0).cast("decimal(38,0)"))
    )
    wkrev = (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
        )
        .agg(rev_q.cast("long").alias("rev_q"))
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_q = F.sum(F.col("rev_q").cast("decimal(38,0)")).over(w)
    return (
        wkrev.join(F.broadcast(cohort_size), "cohort_wk")
        .select(
            "cohort_wk",
            F.col("week_offset").cast("long").alias("week_offset"),
            "n_users",
            (F.col("rev_q").cast("double") / 1000000.0).alias("week_revenue"),
            (cum_q.cast("string").cast("double") / 1000000.0).alias(
                "cum_revenue"
            ),
            F.expr(
                "cast(cast(sum(cast(rev_q as decimal(38,0))) over ("
                "partition by cohort_wk order by week_offset "
                "rows unbounded preceding) as decimal(38,0)) "
                "div n_users as long)"
            ).alias("ltv_per_user_micro"),
        )
    )


@register(
    "features_rfm_segments",
    f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us({EVENTS_TS_SQL}) AS us, value
      FROM events
    ), anchor AS (SELECT MAX(us) AS max_us FROM e),
    u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN
               CAST(FLOOR(value * 1000000.0 + 0.5) AS HUGEINT)
               ELSE 0 END) AS BIGINT) AS mq,
             MAX(us) AS last_us
      FROM e GROUP BY user_id
    ), scored AS (
      SELECT u.user_id,
             CAST((a.max_us - u.last_us) // 86400000000 AS BIGINT)
               AS recency_days,
             CAST(u.mq AS DOUBLE) / 1000000.0 AS monetary,
             NTILE(5) OVER (ORDER BY (a.max_us - u.last_us), u.user_id)
               AS r_score,
             NTILE(5) OVER (ORDER BY u.mq DESC, u.user_id) AS m_score
      FROM u CROSS JOIN anchor a
    )
    SELECT user_id, recency_days, monetary,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(m_score AS BIGINT) AS m_score,
           CASE WHEN r_score <= 2 AND m_score <= 2 THEN 'champion'
                WHEN r_score <= 2 THEN 'recent'
                WHEN m_score <= 2 THEN 'at_risk_whale'
                WHEN r_score >= 4 AND m_score >= 4 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM segmentation: quintile recency/monetary scores (ntile on "
    "deterministic total orders) mapped to named segments — the "
    "marketing-automation audience table",
)
def features_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmentation layer on top of ``features_user_rfm``:
    quintile scores for recency (1 = most recent) and monetary
    (1 = highest spend), folded to the named segments a lifecycle
    campaign targets (champions, recently-active, at-risk whales,
    hibernating). Score edges are ntile over a DETERMINISTIC total
    order (metric, then user_id) so quintile boundaries are
    reproducible — the property an audience export needs when two
    systems must agree on who got the email.

    Scale: one fact shuffle to per-user reductions; the two ntiles
    are windows over |users| rows on one ordering each. Segment
    mapping is a stateless CASE.
    """
    ev = load(spark, "events", sf_dir)
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1000000.0 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                ),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("long")
        .alias("mq"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    anchor = F.broadcast(
        ev.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    )
    base = u.crossJoin(anchor).withColumn(
        "rec_us", F.col("max_us") - F.col("last_us")
    )
    # ntile(5) from explicit total ranks (two-phase, bucketed): with
    # n = q·5 + r, the first r tiles get q+1 rows — the exact NTILE
    # fill rule, reproduced with integer arithmetic from (rank, n)
    ntile5 = (
        "CASE WHEN {rn} <= (nn % 5) * (nn div 5 + 1) "
        "THEN ({rn} - 1) div (nn div 5 + 1) + 1 "
        "ELSE (nn % 5) + ({rn} - (nn % 5) * (nn div 5 + 1) - 1) "
        "div (nn div 5) + 1 END"
    )
    ranked = with_total_rank(
        with_total_rank(base, "rec_us", ("user_id",), rn="rrn", nn="nn"),
        "mq", ("user_id",), rn="mrn", descending=True,
    )
    scored = ranked.select(
        "user_id",
        F.expr("rec_us div 86400000000").cast("long").alias("recency_days"),
        (F.col("mq").cast("double") / 1000000.0).alias("monetary"),
        F.expr(ntile5.format(rn="rrn")).cast("int").alias("r_score"),
        F.expr(ntile5.format(rn="mrn")).cast("int").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") <= 2) & (F.col("m_score") <= 2), "champion"
        )
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("m_score") <= 2, "at_risk_whale")
        .when(
            (F.col("r_score") >= 4) & (F.col("m_score") >= 4), "hibernating"
        )
        .otherwise("regular")
    )
    return scored.select(
        "user_id",
        "recency_days",
        "monetary",
        F.col("r_score").cast("long").alias("r_score"),
        F.col("m_score").cast("long").alias("m_score"),
        seg.alias("segment"),
    )


# ---------- path analysis (event-type trigrams per user) ----------


@register(
    "events_path_trigrams",
    f"""
    WITH o AS (SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
               FROM events
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY {EVENTS_TS_SQL}, event_id)),
    p AS (SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
          user_id FROM o WHERE e3 IS NOT NULL)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_occurrences DESC, path LIMIT 25
    """,
    doc="behavioral path analysis: top-25 event-type trigrams over "
    "per-user time-ordered streams (occurrences + distinct users) — "
    "the 'what do users do next' sequence-mining readout funnels "
    "cannot express (funnels fix the order; paths discover it)",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 path mining (SLIDING motif census over the whole
    stream — win_top_paths reports only each session's OPENING path;
    this op counts every 3-step window and its distinct users):
    lead(1)/lead(2) over each user's
    time-ordered stream build sliding event-type trigrams; counting
    occurrences and distinct users per path surfaces the dominant
    behavioral sequences. Ties in the time order break on event_id —
    fully deterministic paths.

    Plan: ONE shuffle on user_id; both leads share one window pass,
    the trigram aggregate is map-side combined, top-25 is
    TakeOrderedAndProject. Path cardinality is ≤ |event_types|³ —
    the aggregate output is bounded no matter the corpus.

    Scale: per-user windows (no global order); a power user inflates
    only their partition's window state, which is O(1) per row for
    leads. 100 TB = the same single exchange.
    """
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    o = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    p = o.select(
        F.concat_ws(" > ", "event_type", "e2", "e3").alias("path"),
        "user_id",
    )
    return (
        p.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(25)
    )


@register(
    "agg_stickiness_dau_mau",
    f"""
    WITH e AS (SELECT user_id, CAST({EVENTS_TS_SQL} AS DATE) AS day,
               strftime(CAST({EVENTS_TS_SQL} AS DATE), '%Y-%m') AS month
               FROM events),
    du AS (SELECT month, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
           FROM e GROUP BY month, day),
    m AS (SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
          FROM e GROUP BY month),
    da AS (SELECT month, CAST(SUM(dau) AS BIGINT) AS user_days,
           CAST(COUNT(*) AS BIGINT) AS n_days FROM du GROUP BY month)
    SELECT da.month, da.n_days, da.user_days, m.mau,
           CAST(da.user_days * 1000000 // (da.n_days * m.mau) AS BIGINT)
             AS stickiness_ppm
    FROM da JOIN m ON m.month = da.month
    """,
    doc="DAU/MAU stickiness per month: average daily actives over "
    "monthly actives in integer ppm (user-days * 1e6 div days*MAU) — "
    "the engagement-frequency headline beside the retention matrix",
)
def agg_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly stickiness = avg(DAU)/MAU, computed as one exact
    integer ratio (user-days × 1e6) div (days × MAU) — no float
    average of per-day ratios. Two distinct-count aggregates (daily,
    monthly) sharing the user exchange; output is |months| rows.

    Scale: COUNT(DISTINCT) over (month, day, user) keys — map-side
    partial dedup absorbs the fact volume; at 100 TB the same query
    runs on HLL sketches (agg_approx_distinct contract) with
    identical shape.
    """
    ev = load(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("date").alias("day"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM").alias(
            "month"
        ),
    )
    du = e.groupBy("month", "day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    m = e.groupBy("month").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    da = du.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("user_days"),
    )
    return da.join(m, "month").select(
        "month",
        "n_days",
        "user_days",
        "mau",
        F.expr(
            "cast(cast(user_days as decimal(38,0)) * 1000000 "
            "div (n_days * mau) as bigint)"
        ).alias("stickiness_ppm"),
    )


# ---------- stationary distribution (Markov chain power steps) ----------

_MC_ITERS = 3


def _mc_oracle() -> str:
    cte = [
        f"""o AS (SELECT user_id, event_type AS src,
              LEAD(event_type, 1) OVER (
                PARTITION BY user_id ORDER BY {EVENTS_TS_SQL}, event_id
              ) AS dst FROM events)""",
        """c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
           FROM o WHERE dst IS NOT NULL GROUP BY src, dst)""",
        """tp AS (SELECT c.src, c.dst,
             CAST(c.n * 1000000 // t.rt AS BIGINT) AS p
           FROM c JOIN (SELECT src, SUM(n) AS rt FROM c GROUP BY src) t
           ON t.src = c.src)""",
        """states AS (SELECT DISTINCT src AS s FROM c)""",
        """pi0 AS (SELECT s, CAST(1000000 // (SELECT COUNT(*) FROM states)
              AS BIGINT) AS m FROM states)""",
    ]
    prev = "pi0"
    for k in range(1, _MC_ITERS + 1):
        cte.append(
            f"""pi{k} AS (
              SELECT tp.dst AS s,
                     CAST(SUM(p.m * tp.p) // 1000000 AS BIGINT) AS m
              FROM {prev} p JOIN tp ON tp.src = p.s GROUP BY tp.dst)"""
        )
        prev = f"pi{k}"
    return (
        "WITH " + ", ".join(cte) + " "
        f"SELECT a.s AS event_type, a.m AS pi_ppm, "
        f"CAST(ABS(a.m - b.m) AS BIGINT) AS delta_ppm "
        f"FROM pi{_MC_ITERS} a JOIN pi{_MC_ITERS - 1} b ON b.s = a.s"
    )


@register(
    "events_markov_stationary",
    _mc_oracle(),
    doc=f"stationary distribution of the event-type Markov chain: "
    f"{_MC_ITERS} exact integer-ppm power steps from uniform "
    "(pi' = pi P, truncating div per step — deterministic drift), "
    "with the last-step L1 delta as the convergence readout",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does user behavior settle: power-iterate π ← πP on the
    integer-ppm transition matrix. All mass arithmetic is exact
    integer (ppm · ppm // 1e6 per hop — truncation is deterministic
    and identical across engines), so the trajectory is bit-stable;
    the per-state |π₃ − π₂| column shows convergence without any
    float tolerance.

    Scale: the transition matrix is ≤ |types|² rows (broadcast); each
    power step is one tiny join — corpus rows are touched exactly
    once, by the matrix-building aggregate.
    """
    ev = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    c = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type", 1).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c = pin(c)
    t = c.groupBy("src").agg(F.sum("n").cast("long").alias("rt"))
    tp = c.join(F.broadcast(t), "src").select(
        "src",
        "dst",
        F.expr("cast(cast(n as decimal(38,0)) * 1000000 div rt as bigint)")
        .alias("p"),
    )
    tp = pin(tp)
    states = c.select(F.col("src").alias("s")).distinct()
    nstates = states.agg(F.count(F.lit(1)).alias("ns"))
    pi = states.crossJoin(F.broadcast(nstates)).select(
        "s", F.expr("cast(1000000 div ns as bigint)").alias("m")
    )
    prev = None
    for _k in range(_MC_ITERS):
        prev = pi
        pi = (
            pi.join(F.broadcast(tp), pi.s == tp.src)
            .groupBy(F.col("dst").alias("s2"))
            .agg(
                F.expr("cast(sum(m * p) div 1000000 as bigint)").alias("m")
            )
            .select(F.col("s2").alias("s"), "m")
        )
    return (
        pi.alias("a")
        .join(F.broadcast(prev.alias("b")), F.col("a.s") == F.col("b.s"))
        .select(
            F.col("a.s").alias("event_type"),
            F.col("a.m").alias("pi_ppm"),
            F.abs(F.col("a.m") - F.col("b.m")).cast("long").alias("delta_ppm"),
        )
    )


# ---------- RFM segment migration matrix ----------


@register(
    "agg_rfm_migration",
    f"""
    WITH m AS (SELECT user_id,
               epoch_us({EVENTS_TS_SQL}) // 604800000000 AS wk,
               CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS mv
               FROM events GROUP BY 1, 2),
    r AS (SELECT user_id, wk, mv,
          ROW_NUMBER() OVER (PARTITION BY wk ORDER BY mv, user_id)
            AS rn,
          COUNT(*) OVER (PARTITION BY wk) AS n
          FROM m),
    seg AS (SELECT user_id, wk,
            CASE WHEN rn * 3 <= n THEN 'low'
                 WHEN rn * 3 <= 2 * n THEN 'mid' ELSE 'high' END AS seg
            FROM r),
    nxt AS (SELECT s1.seg AS seg_from, s2.seg AS seg_to
            FROM seg s1 JOIN seg s2 ON s2.user_id = s1.user_id
             AND s2.wk = s1.wk + 1),
    c AS (SELECT seg_from, seg_to, CAST(COUNT(*) AS BIGINT) AS n
          FROM nxt GROUP BY 1, 2)
    SELECT c.seg_from, c.seg_to, c.n,
           CAST(c.n * 1000000 // t.rt AS BIGINT) AS prob_ppm
    FROM c JOIN (SELECT seg_from, SUM(n) AS rt FROM c GROUP BY 1) t
    ON t.seg_from = c.seg_from
    """,
    doc="value-segment migration matrix: users terciled by weekly "
    "spend (exact rank terciles per week), week-over-week "
    "transition counts row-normalized to integer ppm — the "
    "customer-lifecycle movement report behind churn/upsell targeting",
)
def agg_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment migration (the DYNAMICS beside features_rfm_segments'
    static snapshot — this op tracks how users MOVE between value
    tiers): per week, users rank into low/mid/high
    value terciles (exact rank boundaries — rn·3 ≤ n, deterministic
    user_id tie-break); consecutive weeks join per user to count
    segment transitions, row-normalized in integer ppm. The matrix's
    off-diagonal mass IS the churn/upgrade signal.

    Scale: weekly value aggregate (map-side combined), tercile ranks
    partitioned by week (bounded partitions at |users|/week — at
    100 TB swap in with_total_rank per week, same output), and a
    self-join on (user, next-month) that shuffles on user_id once.
    """
    ev = load(spark, "events", sf_dir)
    m = (
        ev.select(
            "user_id",
            F.expr(
                "cast(unix_micros(cast(ts as timestamp)) div 604800000000 "
                "as long)"
            ).alias("wk"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
        .groupBy("user_id", "wk")
        .agg(F.sum("qv").cast("long").alias("mv"))
    )
    wr = Window.partitionBy("wk").orderBy("mv", "user_id")
    wn = Window.partitionBy("wk")
    seg = pin(
        m.select(
            "user_id",
            "wk",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        ).select(
            "user_id",
            "wk",
            F.when(F.col("rn") * 3 <= F.col("n"), "low")
            .when(F.col("rn") * 3 <= 2 * F.col("n"), "mid")
            .otherwise("high")
            .alias("seg"),
        )
    )
    s1 = seg.select(
        "user_id", (F.col("wk") + 1).alias("m2"), F.col("seg").alias("seg_from")
    )
    s2 = seg.select(
        "user_id", F.col("wk").alias("m2"), F.col("seg").alias("seg_to")
    )
    c = (
        s1.join(s2, ["user_id", "m2"])
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = c.groupBy("seg_from").agg(F.sum("n").cast("long").alias("rt"))
    return c.join(F.broadcast(t), "seg_from").select(
        "seg_from",
        "seg_to",
        "n",
        F.expr(
            "cast(cast(n as decimal(38,0)) * 1000000 div rt as bigint)"
        ).alias("prob_ppm"),
    )


# ---------- metric-delta root-cause contribution analysis ----------


@register(
    "dq_delta_attribution",
    f"""
    WITH d AS (SELECT event_type, user_id % 4 AS region,
               CAST({EVENTS_TS_SQL} AS DATE) AS day
               FROM events),
    tgt AS (SELECT MAX(day) AS t FROM d),
    cur AS (SELECT event_type, region, CAST(COUNT(*) AS BIGINT) AS n_cur
            FROM d, tgt WHERE day = t GROUP BY 1, 2),
    base AS (SELECT event_type, region,
             CAST(COUNT(*) // 7 AS BIGINT) AS n_base
             FROM d, tgt WHERE day >= t - 7 AND day < t GROUP BY 1, 2),
    j AS (SELECT COALESCE(c.event_type, b.event_type) AS event_type,
          COALESCE(c.region, b.region) AS region,
          COALESCE(c.n_cur, 0) AS n_cur, COALESCE(b.n_base, 0) AS n_base,
          COALESCE(c.n_cur, 0) - COALESCE(b.n_base, 0) AS delta
          FROM cur c FULL OUTER JOIN base b
          ON b.event_type = c.event_type AND b.region = c.region),
    tot AS (SELECT SUM(delta) AS total_delta FROM j)
    SELECT j.event_type, CAST(j.region AS BIGINT) AS region,
           CAST(j.n_cur AS BIGINT) AS n_cur,
           CAST(j.n_base AS BIGINT) AS n_base,
           CAST(j.delta AS BIGINT) AS delta,
           CAST(j.delta * 1000000 // NULLIF(t.total_delta, 0) AS BIGINT)
             AS contribution_ppm
    FROM j CROSS JOIN tot t
    ORDER BY ABS(j.delta) DESC, j.event_type, region LIMIT 10
    """,
    doc="root-cause contribution analysis: the latest day's volume "
    "delta vs the trailing-7-day baseline decomposed by (event_type, "
    "region) slice — top-10 slices by |delta| with integer-ppm share "
    "of the total movement; the 'what moved the metric' drill-down",
)
def dq_delta_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (the Adtributor/metric-drill-down shape):
    slice the metric's day-over-baseline delta by a dimension pair and
    rank slices by absolute movement, each with its signed ppm share
    of the total delta — additive by construction, so the top slices
    EXPLAIN the anomaly rather than merely flagging it
    (dq_volume_anomaly is the detector; this is the attribution).

    Scale: two map-side-combined slice aggregates (current day,
    trailing baseline) full-outer-joined on the bounded slice key;
    top-10 via TakeOrderedAndProject. The dimension fan-out is the
    slice cardinality, never fact rows.
    """
    ev = load(spark, "events", sf_dir)
    d = pin(
        ev.select(
            "event_type",
            (F.col("user_id") % 4).alias("region"),
            F.col("ts").cast("timestamp").cast("date").alias("day"),
        )
    )
    tgt = d.agg(F.max("day").alias("t"))
    dd = d.crossJoin(F.broadcast(tgt))
    cur = dd.filter(F.col("day") == F.col("t")).groupBy(
        "event_type", "region"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_cur"))
    base = (
        dd.filter(
            (F.col("day") >= F.expr("t - interval 7 days"))
            & (F.col("day") < F.col("t"))
        )
        .groupBy("event_type", "region")
        .agg(F.expr("cast(count(*) div 7 as bigint)").alias("n_base"))
    )
    # full-outer on two bounded slice tables would plan SortMergeJoin
    # (round-2 gotcha) — the union + merge-groupBy fusion is
    # exchange-cheap and SMJ-free
    j = (
        cur.select(
            "event_type", "region", F.col("n_cur").alias("v"),
            F.lit(1).alias("is_cur"),
        )
        .unionByName(
            base.select(
                "event_type", "region", F.col("n_base").alias("v"),
                F.lit(0).alias("is_cur"),
            )
        )
        .groupBy("event_type", "region")
        .agg(
            F.sum(F.when(F.col("is_cur") == 1, F.col("v")).otherwise(0))
            .cast("long")
            .alias("n_cur"),
            F.sum(F.when(F.col("is_cur") == 0, F.col("v")).otherwise(0))
            .cast("long")
            .alias("n_base"),
        )
        .select(
            "event_type",
            "region",
            "n_cur",
            "n_base",
            (F.col("n_cur") - F.col("n_base")).alias("delta"),
        )
    )
    tot = j.agg(F.sum("delta").cast("long").alias("total_delta"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("region").cast("long").alias("region"),
            "n_cur",
            "n_base",
            "delta",
            F.expr(
                "cast(cast(delta as decimal(38,0)) * 1000000 "
                "div nullif(total_delta, 0) as bigint)"
            ).alias("contribution_ppm"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), "event_type", "region")
        .limit(10)
    )


# ---------- rate/mix (Oaxaca-Blinder) metric decomposition ----------


@register(
    "agg_rate_mix_decomposition",
    f"""
    WITH d AS (SELECT event_type,
               epoch_us({EVENTS_TS_SQL}) // 604800000000 AS wk,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS qv
               FROM events),
    wks AS (SELECT MAX(wk) AS w2, MAX(wk) - 1 AS w1 FROM d),
    p AS (SELECT d.event_type,
          CASE WHEN d.wk = wks.w2 THEN 2 ELSE 1 END AS period,
          d.qv
          FROM d, wks WHERE d.wk IN (wks.w1, wks.w2)),
    seg AS (SELECT event_type, period,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(qv) // COUNT(*) AS BIGINT) AS r_micro
            FROM p GROUP BY event_type, period),
    tot AS (SELECT period, CAST(SUM(n) AS BIGINT) AS nt
            FROM seg GROUP BY period),
    w AS (SELECT s.event_type, s.period,
          CAST(s.n * 1000000 // t.nt AS BIGINT) AS w_ppm, s.r_micro
          FROM seg s JOIN tot t ON t.period = s.period),
    pivoted AS (
      SELECT event_type,
             CAST(MAX(CASE WHEN period = 1 THEN w_ppm END) AS BIGINT)
               AS w1_ppm,
             CAST(MAX(CASE WHEN period = 2 THEN w_ppm END) AS BIGINT)
               AS w2_ppm,
             CAST(MAX(CASE WHEN period = 1 THEN r_micro END) AS BIGINT)
               AS r1_micro,
             CAST(MAX(CASE WHEN period = 2 THEN r_micro END) AS BIGINT)
               AS r2_micro
      FROM w GROUP BY event_type)
    SELECT event_type, w1_ppm, w2_ppm, r1_micro, r2_micro,
           CAST((w2_ppm - w1_ppm) * r1_micro // 1000000 AS BIGINT)
             AS mix_effect_micro,
           CAST(w2_ppm * (r2_micro - r1_micro) // 1000000 AS BIGINT)
             AS rate_effect_micro
    FROM pivoted
    WHERE w1_ppm IS NOT NULL AND w2_ppm IS NOT NULL
    """,
    doc="rate/mix (Oaxaca-Blinder) decomposition of the week-over-week "
    "mean value change: per segment, the mix effect (Δweight at old "
    "rate) and the rate effect (new weight × Δrate) in integer micro "
    "units — answers 'did the metric move because behavior changed or "
    "because the traffic mix shifted', the question slice deltas "
    "alone cannot",
)
def agg_rate_mix_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oaxaca-Blinder for metrics: Δ(overall mean) between two weeks
    decomposes exactly as Σ_s (w₂−w₁)·r₁ + Σ_s w₂·(r₂−r₁) — the first
    sum is pure MIX SHIFT (same behavior, different traffic), the
    second pure RATE CHANGE. Weights and rates are truncating integer
    ppm/micro (each product quantized per term — the residual of
    quantization is bounded by segments·1 micro and visible by
    comparing against the overall means downstream). Segments present
    in only one period are excluded (the standard common-support
    restriction); dq_delta_attribution is the volume-side sibling.

    Scale: one (segment, week) aggregate (map-side combined), tiny
    pivots and broadcasts after.
    """
    ev = load(spark, "events", sf_dir)
    d = pin(
        ev.select(
            "event_type",
            F.expr(
                "cast(unix_micros(cast(ts as timestamp)) "
                "div 604800000000 as long)"
            ).alias("wk"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
    )
    wks = d.agg(
        F.max("wk").alias("w2"), (F.max("wk") - 1).alias("w1")
    )
    p = (
        d.crossJoin(F.broadcast(wks))
        .filter((F.col("wk") == F.col("w1")) | (F.col("wk") == F.col("w2")))
        .select(
            "event_type",
            F.when(F.col("wk") == F.col("w2"), 2).otherwise(1).alias(
                "period"
            ),
            "qv",
        )
    )
    seg = p.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("cast(sum(qv) div count(*) as bigint)").alias("r_micro"),
    )
    tot = seg.groupBy("period").agg(F.sum("n").cast("long").alias("nt"))
    w = seg.join(F.broadcast(tot), "period").select(
        "event_type",
        "period",
        F.expr("cast(n * 1000000 div nt as bigint)").alias("w_ppm"),
        "r_micro",
    )
    piv = w.groupBy("event_type").agg(
        F.max(F.when(F.col("period") == 1, F.col("w_ppm"))).alias("w1_ppm"),
        F.max(F.when(F.col("period") == 2, F.col("w_ppm"))).alias("w2_ppm"),
        F.max(F.when(F.col("period") == 1, F.col("r_micro"))).alias(
            "r1_micro"
        ),
        F.max(F.when(F.col("period") == 2, F.col("r_micro"))).alias(
            "r2_micro"
        ),
    )
    return (
        piv.filter(
            F.col("w1_ppm").isNotNull() & F.col("w2_ppm").isNotNull()
        )
        .select(
            "event_type",
            F.col("w1_ppm").cast("long").alias("w1_ppm"),
            F.col("w2_ppm").cast("long").alias("w2_ppm"),
            F.col("r1_micro").cast("long").alias("r1_micro"),
            F.col("r2_micro").cast("long").alias("r2_micro"),
            F.expr(
                "cast(cast(w2_ppm - w1_ppm as decimal(38,0)) * r1_micro "
                "div 1000000 as bigint)"
            ).alias("mix_effect_micro"),
            F.expr(
                "cast(cast(w2_ppm as decimal(38,0)) * (r2_micro - r1_micro) "
                "div 1000000 as bigint)"
            ).alias("rate_effect_micro"),
        )
    )


# ---------- item-item collaborative filtering ----------

_II_K = 3  # neighbors kept per item
_II_MIN_CO = 2  # noise floor: singleton co-occurrences carry no signal


@register(
    "rec_item_item",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), item_cnt AS (
      SELECT pk, CAST(COUNT(*) AS HUGEINT) AS c FROM items GROUP BY pk
    ), pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS HUGEINT) AS co
      FROM items a JOIN items b ON b.ok = a.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= {_II_MIN_CO}
    ), sym AS (
      SELECT pa, pb, co FROM pairs
      UNION ALL
      SELECT pb AS pa, pa AS pb, co FROM pairs
    ), scored AS (
      SELECT s.pa, s.pb, s.co,
             CAST(s.co * s.co * 1000000000000 // (ca.c * cb.c)
                  AS BIGINT) AS cos2_p12
      FROM sym s
      JOIN item_cnt ca ON ca.pk = s.pa
      JOIN item_cnt cb ON cb.pk = s.pb
    )
    SELECT CAST(pa AS BIGINT) AS item, CAST(rnk AS BIGINT) AS rnk,
           CAST(pb AS BIGINT) AS neighbor,
           CAST(co AS BIGINT) AS n_cooccur, cos2_p12,
           FLOOR(SQRT(CAST(cos2_p12 AS DOUBLE) / 1000000000000.0)
                 * 1000000000.0 + 0.5) / 1000000000.0 AS cosine
    FROM (
      SELECT pa, pb, co, cos2_p12, ROW_NUMBER() OVER (
        PARTITION BY pa ORDER BY cos2_p12 DESC, pb) AS rnk
      FROM scored) t
    WHERE rnk <= {_II_K}
    """,
    doc=f"item-item collaborative filtering: per-part top-{_II_K} "
    "neighbor list by co-occurrence cosine co/sqrt(n_a*n_b) — ranked "
    "on the exact integer co^2*1e12//(n_a*n_b) key (no float ties), "
    "the 'customers also bought' serving table; sibling of "
    "agg_market_basket (global pair lift) and ml_als_user_solve "
    "(latent factors) — this is the memory-based neighbor model",
)
def rec_item_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic Amazon-style item-item recommender table: for each
    part, the top-k other parts by co-occurrence cosine
    co/√(n_a·n_b) over order baskets. Ranking happens on the EXACT
    integer key co²·1e12 div (n_a·n_b) (monotone in cosine), so
    neighbor order never depends on float comparison; the cosine
    itself is reported via sqrt (correctly rounded per IEEE-754 —
    safe cross-engine, unlike ln/exp) floor-quantized at 1e-9.

    Distinct from ``agg_market_basket`` (one global top-N pair list
    with support/confidence/lift) — this is the per-item normalized
    neighbor ranking a retrieval service joins against a session's
    items; and from ``ml_als_user_solve`` (model-based latent
    factors) — this is the memory-based neighborhood method.

    Scale: ONE fact shuffle builds sorted basket arrays; the k²
    ordered pairs generate expression-side (baskets bounded per
    order), map-side combine collapses them to the item-vocab-sized
    pair table. Everything downstream — symmetrization, count joins
    (broadcast), the per-item top-k window — runs on vocab² rows at
    most, partitioned by item (never a global window). co² products
    route through decimal(38,0)/HUGEINT per the overflow convention.
    """
    li = load(spark, "lineitem", sf_dir)
    raw = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    # pinned (r11): the pair fan-out and item counts both re-ran the
    # collect_set aggregate when unpinned (exchange reuse only dedups
    # the shuffle write, not the object agg)
    baskets = pin(
        raw.groupBy("ok").agg(
            F.sort_array(F.collect_set("pk")).alias("ps")
        )
    )
    item_cnt = pin(
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    # r11: pair fan-out as posexplode + slice-explode instead of the
    # interpreted flatten(transform(.., transform(slice(..)))) lambda
    # chain — explode/slice are codegen generators while the nested
    # lambda built struct arrays per basket in the interpreted
    # evaluator (noop A/B at sf0.1: pair stage + agg 1.61 -> 1.00 s).
    # Identical pairs: ps is sorted-distinct, so elements after
    # position i are exactly the ordered (pa < pb) partners.
    # r11: symmetrize BEFORE the aggregate — every ordered (pa, pb)
    # with pa ≠ pb in a basket is exactly one direction of one
    # unordered pair, so ONE aggregate over the both-directions
    # explode equals the old agg-then-union-flip (which re-ran the
    # pair aggregate per union branch). concat(prefix, suffix) skips
    # position i itself.
    sym = (
        baskets.select("ps", F.posexplode("ps").alias("i", "pa"))
        .select(
            "pa",
            F.explode(
                F.expr("concat(slice(ps, 1, i), slice(ps, i + 2, size(ps)))")
            ).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("co"))
        .filter(F.col("co") >= _II_MIN_CO)
    )
    ca = item_cnt.select(F.col("pk").alias("pa"), F.col("c").alias("ca"))
    cb = item_cnt.select(F.col("pk").alias("pb"), F.col("c").alias("cb"))
    scored = (
        sym.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .select(
            "pa",
            "pb",
            "co",
            F.expr(
                "cast(co * co * 1000000000000 div (ca * cb) as bigint)"
            ).alias("cos2_p12"),
        )
    )
    w = Window.partitionBy("pa").orderBy(
        F.desc("cos2_p12"), F.asc("pb")
    )
    top = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _II_K
    )
    return top.select(
        F.col("pa").cast("long").alias("item"),
        F.col("rnk").cast("long").alias("rnk"),
        F.col("pb").cast("long").alias("neighbor"),
        F.col("co").cast("long").alias("n_cooccur"),
        "cos2_p12",
        (
            F.floor(
                F.sqrt(F.col("cos2_p12").cast("double") / F.lit(1e12))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("cosine"),
    )
