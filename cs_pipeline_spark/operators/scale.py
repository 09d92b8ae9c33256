"""Scale patterns (SURVEY §4 / north star): bucketed co-located joins
and manual skew salting.

These are the two levers the engine reaches for when AQE alone isn't
enough at 100 TB:

- **Bucketing**: both join sides written ``bucketBy(N, key)`` share a
  partitioning on disk, so the join needs NO exchange — at 100 TB this
  turns the nightly fact-to-fact join from a full double shuffle into
  a zip of pre-sorted buckets. (`tests/test_scale.py` asserts the
  bucketed plan is Exchange-free with broadcast disabled.)
- **Salting**: when one key dominates (the reference's analogue: one
  region holding most of the grid), a deterministic salt splits the
  hot key's rows across S sub-partitions and replicates the dim side
  S×; the aggregate over the salted join is salt-invisible. AQE's
  skew-join split handles sort-merge cases automatically; explicit
  salting remains the tool for skewed *aggregations* and
  broadcast-infeasible dims.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cs_pipeline_spark.operators.helpers import dsum, sql_dsum, with_total_rank
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.tables import EVENTS_TS_SQL, load

N_BUCKETS = 8
N_SALTS = 8


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders+customer bucketed by custkey (once per session/sf).

    ``bucketBy`` requires the table catalog; the bucket count must
    match on both sides for the exchange-free join.
    """
    from cs_pipeline_spark.sources.scans import _scratch

    t_orders = f"orders_b_{_tag(sf_dir)}"
    t_cust = f"customer_b_{_tag(sf_dir)}"
    # explicit external-table paths: keeps bucket data in the repo
    # scratch dir no matter what the session's warehouse dir is
    if not spark.catalog.tableExists(t_orders):
        (
            load(spark, "orders", sf_dir)
            .write.mode("overwrite")
            .option("path", _scratch(sf_dir, t_orders))
            .bucketBy(N_BUCKETS, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(t_orders)
        )
    if not spark.catalog.tableExists(t_cust):
        (
            load(spark, "customer", sf_dir)
            .write.mode("overwrite")
            .option("path", _scratch(sf_dir, t_cust))
            .bucketBy(N_BUCKETS, "c_custkey")
            .sortBy("c_custkey")
            .saveAsTable(t_cust)
        )
    return t_orders, t_cust


@register(
    "join_bucketed",
    "SELECT c.c_custkey, COUNT(*) AS n_orders, "
    f"{sql_dsum('o.o_totalprice')} AS sum_price "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "GROUP BY c.c_custkey",
    doc="co-located bucketed join: bucketBy both sides on the key → "
    "exchange-free join (scale path for fact-to-fact joins)",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_cust = bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    joined = c.join(o, c.c_custkey == o.o_custkey)
    # the groupBy key equals the bucket key → the aggregation reuses
    # the bucketing too: zero exchanges end-to-end (modulo final agg)
    return joined.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("sum_price"),
    )


# ---------- skew salting ----------

# Deterministic skewed key: ~70% of lineitem rows land on key 0.
_SKEW_KEY_SQL = (
    "CASE WHEN l_orderkey % 10 < 7 THEN 0 "
    "ELSE CAST(l_orderkey % 100 AS BIGINT) END"
)


@register(
    "join_skew_salted",
    f"WITH fact AS (SELECT {_SKEW_KEY_SQL} AS skew_key, l_extendedprice "
    "FROM lineitem), "
    "dim AS (SELECT CAST(x AS BIGINT) AS skew_key, "
    "1.0 + CAST(x AS DOUBLE) * 0.01 AS factor FROM range(100) t(x)) "
    "SELECT f.skew_key, COUNT(*) AS n_rows, "
    f"{sql_dsum('f.l_extendedprice * d.factor')} AS weighted_price "
    "FROM fact f JOIN dim d ON f.skew_key = d.skew_key "
    "GROUP BY f.skew_key",
    doc="skew-salted join: deterministic salt splits the hot key across "
    "sub-partitions, dim replicated ×S; aggregate is salt-invisible",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join without a hot partition: the fact side gets
    ``salt = xxhash64(row-id) % S`` appended to the key; the dim side
    is exploded ×S. Every (key, salt) partition then holds ≤ 1/S of
    the hot key's rows. The salt never reaches the output — the
    aggregate collapses it. At 100 TB this is how a 70%-hot key
    aggregation avoids a straggler task."""
    li = load(spark, "lineitem", sf_dir)
    fact = li.select(
        F.expr(_SKEW_KEY_SQL).alias("skew_key"),
        "l_extendedprice",
        F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALTS)
        ).alias("salt"),
    )
    dim = (
        spark.range(100)
        .select(
            F.col("id").alias("skew_key"),
            (1.0 + F.col("id").cast("double") * 0.01).alias("factor"),
        )
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)]))
        )
    )
    return (
        fact.join(dim, ["skew_key", "salt"])
        .groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_extendedprice * factor").alias("weighted_price"),
        )
    )


# ---------- bloom-filter join pre-filter ----------

_BLOOM_BITS = 1 << 16  # m = 65536 bits → 1024 longs
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3  # hash functions

# "interesting" orders: a selective predicate whose key set is still
# too big to list in a literal IN — the runtime-filter scenario
_ORDERS_PRED_SQL = (
    "o_totalprice > 400000.0 AND o_orderdate >= TIMESTAMP '1997-01-01'"
)


def bloom_survivors(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(bloom-filtered lineitem, qualifying orders) — the build+probe
    stages of ``join_bloom_prefilter``, exposed so tests can measure
    the probe's selectivity independently of the final exact join."""
    li = load(spark, "lineitem", sf_dir)
    o = (
        load(spark, "orders", sf_dir)
        .filter(
            (F.col("o_totalprice") > 400000.0)
            & (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        )
        .select("o_orderkey", "o_orderpriority")
    )

    # -- build: keys → k bit positions → 64-bit words → 1-row map
    pos = [
        F.pmod(F.xxhash64("o_orderkey", F.lit(i)), F.lit(_BLOOM_BITS))
        for i in range(_BLOOM_K)
    ]
    bits = o.select(F.explode(F.array(*pos)).alias("bitpos")).select(
        F.expr("bitpos div 64").alias("widx"),
        F.expr("shiftleft(1L, cast(bitpos % 64 as int))").alias("mask"),
    )
    words = bits.groupBy("widx").agg(F.bit_or("mask").alias("word"))
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("widx", "word"))).alias(
            "bloom"
        )
    )

    # -- probe: bit positions materialized once (one xxhash64 per k),
    # then pure bit tests — all in one codegen stage
    probed = li.join(F.broadcast(bloom))
    for i in range(_BLOOM_K):
        probed = probed.withColumn(
            f"_bp{i}",
            F.pmod(F.xxhash64("l_orderkey", F.lit(i)), F.lit(_BLOOM_BITS)),
        )
    keep = F.lit(True)
    for i in range(_BLOOM_K):
        test = F.expr(
            f"(coalesce(element_at(bloom, _bp{i} div 64), 0L)"
            f" & shiftleft(1L, cast(_bp{i} % 64 as int))) != 0"
        )
        keep = keep & test
    drop = ["bloom"] + [f"_bp{i}" for i in range(_BLOOM_K)]
    return probed.filter(keep).drop(*drop), o


@register(
    "join_bloom_prefilter",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE {_ORDERS_PRED_SQL}) o
      ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="bloom-filter join pre-filter: small-side keys aggregated into "
    "a 64Kbit bitmap (bit_or over words), broadcast as a 1-row map, "
    "fact rows dropped before the join shuffle; no false negatives → "
    "result identical to the plain join the oracle runs",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime bloom filtering — the manual form of Spark's
    ``spark.sql.optimizer.runtime.bloomFilter`` InjectRuntimeFilter.

    Build: each qualifying order key sets ``k=3`` bits at positions
    ``xxhash64(key, seed) mod m``; bits are grouped into 64-bit words
    and OR-combined (``bit_or`` is partial-aggregatable → map-side
    combine; at most m/64 = 1024 groups cross the wire regardless of
    key count). The word table is collapsed to a single-row
    ``map<word_idx, word>`` and broadcast.

    Probe: the fact side tests all k bits with pure bit arithmetic
    (``element_at`` + mask); a missing map entry means word 0 → bit
    unset → row dropped. Rows surviving the bloom (true matches +
    ~0.1% false positives at these parameters) proceed to the exact
    join, so the final result provably equals the plain join.

    Scale: this is THE pattern for a selective dim too big to
    broadcast as a hash relation at 100 TB — the bloom is O(m) bytes
    (8 KiB here) no matter how many keys it encodes, and the fact
    shuffle shrinks by the filter's selectivity. The exact join that
    follows only sees pre-filtered rows.
    """
    survivors, o = bloom_survivors(spark, sf_dir)
    return (
        survivors.join(o, survivors.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
    )


@register(
    "scan_encoding_advisor",
    f"""
    WITH d AS (
      SELECT event_id,
             event_id - LAG(event_id) OVER (ORDER BY event_id) AS d_id,
             epoch_us({EVENTS_TS_SQL})
               - LAG(epoch_us({EVENTS_TS_SQL}))
                 OVER (ORDER BY event_id) AS d_ts
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(length(printf('%b', GREATEST(MAX(abs(d_id)), 1)))
                AS BIGINT) AS id_delta_bits,
           CAST(length(printf('%b', GREATEST(MAX(abs(d_ts)), 1)))
                AS BIGINT) AS ts_delta_bits,
           CAST((64 - length(printf('%b', GREATEST(MAX(abs(d_id)), 1))))
                * 1000000 // 64 AS BIGINT) AS id_savings_ppm,
           CAST((64 - length(printf('%b', GREATEST(MAX(abs(d_ts)), 1))))
                * 1000000 // 64 AS BIGINT) AS ts_savings_ppm
    FROM d
    """,
    doc="storage-encoding advisor: max delta bit-width for sorted id "
    "and timestamp columns → delta+bitpack savings vs raw 64-bit "
    "(integer ppm) — the layout decision behind 'sort before write'",
)
def scan_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why sorted writes compress: delta-encoded monotonic columns
    need only ceil(log2(max_delta)) bits per value. The advisor
    measures the worst-case delta bit width for the id and timestamp
    columns (bit length via the binary-string trick — no float log)
    and the resulting bitpack savings versus raw int64 — the number
    that justifies ``sort before write.partitionBy`` in the sink
    recipes (the zone-map sink's sibling decision). Parquet's
    DELTA_BINARY_PACKED gets exactly these wins when the layout
    cooperates.

    Scale: one lag window over the sorted key (at 100 TB: per file /
    row group, which is how the encoder sees data anyway), a 1-row
    reduction. Advice is per-column O(1) output.
    """
    ev = load(spark, "events", sf_dir)
    # distributed lag: two-phase total rank + equi-join on rank-1 —
    # the lag pair (id, ts) without a single-partition window
    r = with_total_rank(
        ev.select("event_id", F.unix_micros("ts").alias("us")),
        "event_id", (), rn="rn",
    )
    prev = r.select(
        (F.col("rn") + 1).alias("rn"),
        F.col("event_id").alias("p_id"),
        F.col("us").alias("p_us"),
    )
    d = r.join(prev, "rn", "left").select(
        (F.col("event_id") - F.col("p_id")).alias("d_id"),
        (F.col("us") - F.col("p_us")).alias("d_ts"),
    )
    bits = lambda c: F.length(  # noqa: E731
        F.bin(F.greatest(F.max(F.abs(c)), F.lit(1)))
    ).cast("long")
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        bits(F.col("d_id")).alias("id_delta_bits"),
        bits(F.col("d_ts")).alias("ts_delta_bits"),
        (
            (F.lit(64) - bits(F.col("d_id"))) * F.lit(1000000) / F.lit(64)
        )
        .cast("long")
        .alias("id_savings_ppm"),
        (
            (F.lit(64) - bits(F.col("d_ts"))) * F.lit(1000000) / F.lit(64)
        )
        .cast("long")
        .alias("ts_savings_ppm"),
    )


# ---------- Z-order (Morton curve) layout advisor ----------

_Z_BITS = 10  # 1024×1024 synthetic 2-D key space
_Z_BUCKETS = 64


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave two _Z_BITS-wide ints into a Morton key —
    identical integer expression in Spark SQL and DuckDB."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"((({x} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({y} >> {k}) & 1) << {2 * k + 1})")
    return "(" + " + ".join(terms) + ")"


_Z_SQL = f"""
    WITH pts AS (
      SELECT CAST(user_id % 1024 AS BIGINT) AS x,
             CAST(event_id % 1024 AS BIGINT) AS y
      FROM events
    ), keyed AS (
      SELECT x, y,
             {_morton_sql('x', 'y')} // {(1 << (2 * _Z_BITS)) // _Z_BUCKETS}
               AS zb,
             x // {(1 << _Z_BITS) // _Z_BUCKETS} AS lb
      FROM pts
    ), z AS (
      SELECT 'zorder' AS strategy, CAST(zb AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(x) - MIN(x) + 1 AS BIGINT) AS x_span,
             CAST(MAX(y) - MIN(y) + 1 AS BIGINT) AS y_span
      FROM keyed GROUP BY zb
    ), l AS (
      SELECT 'linear' AS strategy, CAST(lb AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(x) - MIN(x) + 1 AS BIGINT) AS x_span,
             CAST(MAX(y) - MIN(y) + 1 AS BIGINT) AS y_span
      FROM keyed GROUP BY lb
    )
    SELECT * FROM z UNION ALL SELECT * FROM l
"""


@register(
    "scan_zorder_layout",
    _Z_SQL,
    doc="Z-order (Morton) clustering advisor: per-bucket min/max spans "
    "of BOTH dimensions under Morton-key bucketing vs single-column "
    "range bucketing — the zone-map locality numbers behind OPTIMIZE "
    "ZORDER-style layout decisions",
)
def scan_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse layout decision in numbers: files written in
    Z-order (Morton-interleaved key) carry TIGHT min/max zone maps on
    BOTH dimensions (each bucket covers a ~2^(b/2)-wide square), while
    single-column range layout leaves the second dimension's span at
    the full domain — so 2-D predicates skip ~√F of F files instead
    of none. This op computes per-bucket (min,max) spans for the two
    strategies on a synthetic 1024×1024 key grid derived from events;
    reading the z rows against the l rows IS the advisor output.

    The Morton key is 20 pure integer bit operations (shift/and/or —
    whole-stage codegen, identical in DuckDB); bucket stats are one
    map-side-combined aggregate per strategy.

    Scale: the production recipe this justifies is
    ``repartitionByRange(z_key).sortWithinPartitions(z_key)`` before
    ``write.parquet`` — one range shuffle; parquet zone maps then
    prune on every interleaved dimension. The advisor itself is two
    aggregates over an arithmetic key — no shuffle beyond them.
    """
    ev = load(spark, "events", sf_dir)
    pts = ev.selectExpr(
        "CAST(user_id % 1024 AS BIGINT) AS x",
        "CAST(event_id % 1024 AS BIGINT) AS y",
    )
    keyed = pts.selectExpr(
        "x",
        "y",
        f"{_morton_sql('x', 'y')} div "
        f"{(1 << (2 * _Z_BITS)) // _Z_BUCKETS} AS zb",
        f"x div {(1 << _Z_BITS) // _Z_BUCKETS} AS lb",
    )

    def spans(df, key, label):
        return df.groupBy(F.col(key).alias("bucket")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("x") - F.min("x") + 1).cast("long").alias("x_span"),
            (F.max("y") - F.min("y") + 1).cast("long").alias("y_span"),
        ).select(
            F.lit(label).alias("strategy"),
            F.col("bucket").cast("long").alias("bucket"),
            "n_rows",
            "x_span",
            "y_span",
        )

    return spans(keyed, "zb", "zorder").unionByName(
        spans(keyed, "lb", "linear")
    )


# ---------- salted skew join ----------

_SKEW_SALTS = 8  # fan-out for hot keys


@register(
    "join_salted_skew",
    """
    WITH f AS (
      SELECT CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
             CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS vq
      FROM events
    ), d AS (
      SELECT DISTINCT user_id AS uid, user_id % 7 AS seg
      FROM events
      UNION
      SELECT 0, 0
    )
    SELECT CAST(d.seg AS BIGINT) AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(f.vq AS HUGEINT)) AS BIGINT) AS vq_total
    FROM f JOIN d ON f.uid = d.uid
    GROUP BY d.seg
    """,
    doc=f"explicit salted skew join: one hot key (~33% of the fact "
    f"stream) split across {_SKEW_SALTS} salts, dim side replicated "
    "per salt — result provably equal to the plain join (oracle IS "
    "the plain join); the deterministic fallback when AQE skew "
    "handling can't see the sizes",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic skew-join mitigation as a first-class operator: a
    synthetic hot key absorbs ~1/3 of the fact stream (the 100 TB
    "null key / whale customer / default bucket" shape that turns one
    reducer into the job's critical path). Fact rows on hot keys get a
    deterministic salt (hash of the row id mod S); the dim side
    replicates its hot rows S-fold via an explode, and the join runs
    on (key, salt) — the hot key's work now spreads across S tasks.
    The ORACLE is the plain unsalted join: equality is verified by
    value hash, not asserted by construction.

    AQE's skew-join splitting handles this adaptively when post-map
    sizes are visible; explicit salting is the deterministic form that
    also works under disabled AQE, in streaming joins, and when the
    skew is known ahead of time (route only the known-hot keys —
    cold keys pay zero fan-out).

    Scale: dim replication is S× the HOT subset only (1 row here);
    the fact side gains one integer column. Join output and the final
    aggregate are identical to the plain plan.
    """
    ev = load(spark, "events", sf_dir)
    fact = ev.select(
        F.expr(
            "CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END"
        ).alias("uid"),
        "event_id",
        F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("vq"),
    )
    dim = (
        ev.select(
            F.col("user_id").alias("uid"),
            (F.col("user_id") % 7).alias("seg"),
        )
        .union(spark.sql("SELECT 0 AS uid, 0 AS seg"))
        .distinct()
    )
    hot = F.col("uid") == 0  # known-hot key set (config-scale)
    fact_s = fact.withColumn(
        "salt",
        F.when(
            hot, F.pmod(F.xxhash64("event_id"), F.lit(_SKEW_SALTS))
        ).otherwise(F.lit(0)).cast("int"),
    )
    dim_s = dim.withColumn(
        "salt",
        F.explode(
            F.when(
                hot, F.sequence(F.lit(0), F.lit(_SKEW_SALTS - 1))
            ).otherwise(F.array(F.lit(0)))
        ),
    ).withColumn("salt", F.col("salt").cast("int"))
    joined = fact_s.join(dim_s, ["uid", "salt"])
    return joined.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("vq").cast("decimal(38,0)"))
        .cast("long")
        .alias("vq_total"),
    )
