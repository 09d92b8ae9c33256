"""Hash-stable aggregates: one SQL template per aggregate, two dialects.

The driver verifies every query by order-insensitive VALUE HASH against
a DuckDB oracle. Two engine-difference traps make naive double
aggregation non-reproducible:

1. **Double sums are not associative** — Spark's partial/final
   aggregation order differs from DuckDB's scan order (ULP drift).
2. **double→decimal casts disagree**: Spark rounds the *shortest
   decimal representation* (BigDecimal.valueOf → HALF_UP), DuckDB
   rounds the *exact binary value*. Near a decimal-grid tie these
   pick different sides (~1e-4 of values at scale 10) — empirically
   observed as 2/10000 RH² casts differing by 1e-10.

Convention that is deterministic by construction:

- Quantize with ``FLOOR(x·1e6 + 0.5)`` — multiply/add/floor are all
  exactly-rounded IEEE ops, bit-identical in both engines, and the
  result is an *integer* (≤ ~1e17 here), so the subsequent cast to
  DECIMAL is exact in both engines: no rounding ever happens on the
  decimal side.
- Sum the integers in DECIMAL(38,0) (exact, associative), convert
  the total to double via a *string* cast (string→double parsing is
  correctly rounded in both engines; DuckDB's direct decimal→double
  cast is not), then divide by the quantum.
- Second moments square the quantized integers in DECIMAL(19,0)
  (exact), so variance/std derive from exact sums with the same
  double expression on both sides.

Semantics: aggregates are computed over values rounded half-up to
1e-6 — i.e. ``dsum`` is Σ round₆(x). The 1e-6 quantum is far below
any physical meaning in this pipeline and buys bit-exact re-runs on
any cluster topology (a property a production pipeline wants anyway).
Cost: one multiply+floor per row pre-shuffle — negligible.
``min``/``max``/``max_by`` need no treatment (exact, order-free).

Each aggregate is ONE SQL template (``render_*``) rendered through a
two-entry dialect table (``SPARK_SQL``, ``DUCKDB_SQL``) that holds only
what differs between the engines. ``dsum``/``davg``/``dvar_pop``/
``dstd_pop`` parse the Spark render with ``F.expr``: one parse instead
of a Column tree of 150-300 py4j round trips (q1_pricing_summary's
build fell from 1,279 to 221 round trips). ``sql_*`` return the DuckDB
render.
Aggregate arguments are Spark SQL text; a decimal literal inside one
needs the ``D`` suffix (``ELSE 0.0D``), or it parses as DECIMAL.
"""

from __future__ import annotations

from functools import partial
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import concurrently


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


class Dialect(NamedTuple):
    """What the Spark SQL and DuckDB renders of a template differ in."""

    nan_guard: str  # NaN→NULL over ``{d}``, the input promoted to DOUBLE
    dbl: str  # suffix that makes a literal DOUBLE
    sum_int: str  # exact integer type of Σq in the variance numerator
    sq_int: str  # ... of each factor of q·q
    n_int: str  # ... of the count factor
    string: str  # the string carrier between exact integers and DOUBLE
    max_by: str
    min_by: str


SPARK_SQL = Dialect(
    nan_guard="nanvl({d}, CAST(NULL AS DOUBLE))",
    dbl="D",
    sum_int="DECIMAL(38,0)",
    sq_int="DECIMAL(19,0)",
    n_int="DECIMAL(20,0)",
    string="STRING",
    max_by="max_by",
    min_by="min_by",
)
DUCKDB_SQL = Dialect(
    nan_guard="(CASE WHEN ISNAN({d}) THEN NULL ELSE {d} END)",
    dbl="",
    sum_int="HUGEINT",
    sq_int="HUGEINT",
    n_int="HUGEINT",
    string="VARCHAR",
    max_by="arg_max",
    min_by="arg_min",
)


def _skipna(expr: str, t: Dialect) -> str:
    """NaN→NULL + float→double promotion of the aggregated expression.

    Makes every deterministic aggregate *skipna* (xarray semantics,
    reference ``carbonpipeline/dataset.py:144``) at the
    expression level, where it costs one codegen op per row and — unlike
    an ingest-wide projection — cannot block parquet filter pushdown on
    the raw columns. The explicit double cast also makes a FLOAT input
    promote identically in both engines (DuckDB's FLOAT*DOUBLE
    arithmetic otherwise drifts by a quantum).
    """
    return t.nan_guard.format(d=f"CAST(({expr}) AS DOUBLE)")


def _quantized(nn: str, t: Dialect) -> str:
    # exact in both engines: *, + are correctly-rounded IEEE, floor exact
    return f"FLOOR(({nn}) * 1000000.0{t.dbl} + 0.5{t.dbl})"


def _carried(exact: str, t: Dialect) -> str:
    """An exact integer or decimal as the correctly rounded DOUBLE."""
    return f"CAST(CAST({exact} AS {t.string}) AS DOUBLE)"


def dec_to_double(col: Column | str) -> Column:
    """``_carried`` as a Column: exact decimal → string → double."""
    return _c(col).cast("string").cast("double")


def render_dsum(expr: str, t: Dialect) -> str:
    """Skipna sum Σ round₆(x) over the exact integer-decimal path."""
    q = _quantized(_skipna(expr, t), t)
    return f"({_carried(f'SUM(CAST({q} AS DECIMAL(38,0)))', t)} / 1000000.0{t.dbl})"


def render_davg(expr: str, t: Dialect) -> str:
    """Skipna mean: the exact quantized sum / the non-NaN non-null count."""
    return f"({render_dsum(expr, t)} / COUNT({_skipna(expr, t)}))"


def render_dvar_pop(expr: str, t: Dialect) -> str:
    """Population variance (n·Σq² − (Σq)²) / n² / 1e12 of the quantized
    values; null (not 0.0) on an all-null group — xarray-skipna, ddof=0
    (reference ``carbonpipeline/core.py:217-248``).

    The numerator is exact integer arithmetic, so the catastrophic
    cancellation of the naive E[x²]−E[x]² float formula is impossible:
    a constant group yields exactly 0. Value bounds (|x| ≤ 1e7, group
    size ≤ 1e5) keep every intermediate < 1e37 < decimal(38). Only the
    final divisions are float, each correctly rounded identically in
    both engines. In Spark, Σq is the same expression ``dsum``
    aggregates, so mean+std on one column share one sum buffer.
    """
    nn = _skipna(expr, t)
    q = _quantized(nn, t)
    s1 = f"SUM(CAST({q} AS {t.sum_int}))"
    s2 = f"SUM(CAST({q} AS {t.sq_int}) * CAST({q} AS {t.sq_int}))"
    num = f"({s2} * CAST(COUNT({nn}) AS {t.n_int}) - {s1} * {s1})"
    nd = f"CAST(COUNT({nn}) AS DOUBLE)"
    return (
        f"CASE WHEN COUNT({nn}) > 0 THEN "
        f"(({_carried(num, t)} / ({nd} * {nd})) / 1000000000000.0{t.dbl}) END"
    )


def render_dstd_pop(expr: str, t: Dialect) -> str:
    """Population stddev: sqrt of ``render_dvar_pop``."""
    return f"SQRT({render_dvar_pop(expr, t)})"


def dsum(expr: str) -> Column:
    return F.expr(render_dsum(expr, SPARK_SQL))


def davg(expr: str) -> Column:
    return F.expr(render_davg(expr, SPARK_SQL))


def dvar_pop(expr: str) -> Column:
    return F.expr(render_dvar_pop(expr, SPARK_SQL))


def dstd_pop(expr: str) -> Column:
    return F.expr(render_dstd_pop(expr, SPARK_SQL))


def sql_dsum(expr: str) -> str:
    return render_dsum(expr, DUCKDB_SQL)


def sql_davg(expr: str) -> str:
    return render_davg(expr, DUCKDB_SQL)


def sql_dvar_pop(expr: str) -> str:
    return render_dvar_pop(expr, DUCKDB_SQL)


def sql_dstd_pop(expr: str) -> str:
    return render_dstd_pop(expr, DUCKDB_SQL)


def dround(col: Column | str, digits: int = 6) -> Column:
    """Engine-agnostic fixed-point rounding: FLOOR(x·10^d + 0.5)/10^d.

    ``round(x, d)`` is NOT cross-engine safe on rational ratios:
    Spark rounds the SHORTEST decimal repr (BigDecimal.valueOf,
    HALF_UP), DuckDB rounds the exact binary value — a quotient of
    integers that lands on a decimal tie (e.g. n/128 → 7-digit
    expansion ending in 5) flips between them (observed: 3/1500 rows
    of win_outage_mttr at sf0.1). FLOOR of the identical double is
    exact and identical by construction. Half-up toward +∞ on
    negatives — consistent everywhere.
    """
    q = float(10**digits)
    # bare floats become the same DOUBLE literals as F.lit, one py4j call fewer each
    return F.floor(_c(col) * q + 0.5) / q


def sql_dround(expr: str, digits: int = 6) -> str:
    """DuckDB twin of ``dround``."""
    q = f"{float(10 ** digits):.1f}"
    return f"(FLOOR(({expr}) * {q} + 0.5) / {q})"


# ---------------------------------------------------------------------------
# Two-phase distributed total-order machinery
# ---------------------------------------------------------------------------
#
# `row_number().over(Window.orderBy(k))` / `sum(v).over(Window.orderBy(k)
# .rowsBetween(unboundedPreceding, …))` plan as `WindowExec: No Partition
# Defined` — EVERY row funnels through one executor. The helpers below
# compute the IDENTICAL result with a bounded plan:
#
#   phase 1  bucket rows by a monotone value-range key (floor of an affine
#            map of the sort key onto [0, nb)), window WITHIN each bucket;
#   phase 2  aggregate one row per bucket (count / sum / min / max), prefix
#            those nb rows on the driver-scale side, broadcast-join the
#            offsets back.
#
# Monotone bucketing ⇒ global order = bucket order ∘ intra-bucket order, so
# rank = intra-bucket rank + Σ counts of lower buckets, and prefix-agg =
# intra-bucket prefix ⊕ aggregate of lower buckets, for any associative ⊕.
# The bucket id is computed in DOUBLE (monotone under int64→double rounding,
# overflow-free for full-range hashes) and never leaves the plan, so float
# imprecision can only move a row to a neighboring bucket — which cannot
# change the final rank/prefix because the map stays monotone and equal keys
# always share a bucket. The DuckDB oracle keeps its plain global window:
# results are bit-identical by construction.
#
# Cost: the input subtree is evaluated twice (once for the nb-row bucket
# stats, once for the main pass) — two cheap scans instead of one
# single-executor sort of the full table.


def one_part(col: Column | str) -> Column:
    """Constant-but-non-foldable single-partition window key (always 0).

    Marks a window as INTENTIONALLY single-partition — its input is
    bounded by construction (a day spine, a decile table, the nb-row
    two-phase offsets) — without tripping WindowExec's "No Partition
    Defined" warning, which must stay a true signal for accidental
    full-table windows. ``partitionBy(lit(1))`` does NOT work: Spark
    4's ``EliminateWindowPartitions`` rule folds literal keys away and
    the spec is empty again. ``coalesce(cast(col as long), 0) % 1`` is
    0 for every row yet opaque to constant folding.
    """
    return F.coalesce(_c(col).cast("long"), F.lit(0)) % F.lit(1)


def _bucket_col(key: Column, mn: Column, mx: Column, nb: int) -> Column:
    span = mx - mn
    raw = F.floor((key - mn) * F.lit(float(nb)) / (span + F.lit(1.0)))
    b = F.least(F.lit(nb - 1), F.greatest(F.lit(0), raw.cast("int")))
    # Spark's default sort is asc_nulls_first: park null keys below bucket 0
    return F.coalesce(b, F.lit(-1))


def with_total_rank(
    df,
    key: Column | str,
    tiebreaks: tuple = (),
    nb: int = 64,
    rn: str = "rn",
    nn: str | None = None,
    descending: bool = False,
):
    """df + a total-order rank column, computed in two bounded phases.

    Bit-identical to ``F.row_number().over(Window.orderBy(key, *tiebreaks))``
    (plus, when ``nn`` is set, ``F.count(1).over(Window.partitionBy(lit(1)))``)
    but no executor ever sorts more than ~1/nb of the rows. ``key`` must be
    numeric (any width — bucketing happens in double); ties on
    ``(key, *tiebreaks)`` are nondeterministic in BOTH forms, so include a
    unique tiebreak when row identity matters (value-at-rank picks don't).

    Scale: one value-range-bucketed shuffle + per-bucket sort for the main
    pass, one map-side-combined nb-row aggregate for the offsets. The nb-row
    offset window is the only unpartitioned window left — bounded by
    construction.
    """
    from pyspark.sql.window import Window

    k = _c(key).cast("double")
    stats = df.agg(F.min(k).alias("_tp_mn"), F.max(k).alias("_tp_mx"))
    raw_bucket = _bucket_col(
        -k if descending else k,
        -F.col("_tp_mx") if descending else F.col("_tp_mn"),
        -F.col("_tp_mn") if descending else F.col("_tp_mx"),
        nb,
    )
    # null keys: Spark sorts them FIRST ascending (asc_nulls_first,
    # bucket -1 from _bucket_col's coalesce) but LAST under desc —
    # park them ABOVE every real bucket in the descending case
    b = df.crossJoin(F.broadcast(stats)).withColumn(
        "_tpb",
        F.when(k.isNull(), F.lit(nb if descending else -1)).otherwise(
            raw_bucket
        ),
    )
    order = [_c(key).desc() if descending else _c(key)] + [
        _c(t) for t in tiebreaks
    ]
    wloc = Window.partitionBy("_tpb").orderBy(*order)
    cnts = b.groupBy("_tpb").agg(F.count(F.lit(1)).alias("_bc"))
    # partitionBy(lit(1)): the offsets side is ≤ nb+1 rows by
    # construction — a single partition is intended; the literal
    # partition spec documents that and keeps the WindowExec
    # "No Partition Defined" warning a true signal elsewhere
    woff = Window.partitionBy(one_part("_tpb")).orderBy("_tpb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = cnts.select(
        "_tpb",
        F.coalesce(F.sum("_bc").over(woff), F.lit(0)).alias("_tp_off"),
        F.sum("_bc")
        .over(Window.partitionBy(one_part("_tpb")))
        .alias("_tp_nn"),
    )
    out = (
        b.join(F.broadcast(offs), "_tpb")
        .withColumn(rn, (F.col("_tp_off") + F.row_number().over(wloc)).cast("long"))
    )
    if nn is not None:
        out = out.withColumn(nn, F.col("_tp_nn"))
    return out.drop("_tpb", "_tp_mn", "_tp_mx", "_tp_off", "_tp_nn")


_PREFIX_KINDS = {
    "sum": (F.sum, lambda off, loc: off + loc),
    "min": (F.min, F.least),
    "max": (F.max, F.greatest),
}


def with_prefix_aggs(
    df,
    key: Column | str,
    tiebreaks: tuple,
    specs: list,
    nb: int = 64,
):
    """df + SEVERAL running aggregates over ONE total order
    (key, *tiebreaks), sharing a single two-phase pass.

    ``specs`` is a list of ``(val, kind, out, inclusive)`` tuples
    (kind ∈ sum/min/max). Each output column is bit-identical to
    ``F.<kind>(val).over(Window.orderBy(key, *tiebreaks)
    .rowsBetween(unboundedPreceding, 0 if inclusive else -1))`` —
    including the NULL on an exclusive frame's first row — under the
    same tie caveat as ``with_total_rank``, assuming non-null vals.
    Exclusive prefix-max of the sort key itself equals ``lag(key)``
    when keys are strictly increasing — the distributed form of
    sequence-gap lags.

    Scale: ONE bucketed shuffle + local window pass and ONE nb-row
    offset side regardless of how many aggregates ride it — N running
    totals cost the same two scans as one (agg_ks_test's CDF pair).
    """
    from pyspark.sql.window import Window

    k = _c(key).cast("double")
    stats = df.agg(F.min(k).alias("_tp_mn"), F.max(k).alias("_tp_mx"))
    b = df.crossJoin(F.broadcast(stats)).withColumn(
        "_tpb", _bucket_col(k, F.col("_tp_mn"), F.col("_tp_mx"), nb)
    )
    order = [_c(key)] + [_c(t) for t in tiebreaks]
    per_aggs = [F.count(F.lit(1)).alias("_bc")]
    for i, (val, kind, _out, _incl) in enumerate(specs):
        aggf, _ = _PREFIX_KINDS[kind]
        per_aggs.append(aggf(_c(val)).alias(f"_bv{i}"))
    per = b.groupBy("_tpb").agg(*per_aggs)
    wprev = Window.partitionBy(one_part("_tpb")).orderBy("_tpb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_cols = [
        "_tpb",
        F.coalesce(F.sum("_bc").over(wprev), F.lit(0)).alias("_tp_pc"),
    ]
    for i, (val, kind, _out, _incl) in enumerate(specs):
        aggf, _ = _PREFIX_KINDS[kind]
        off_cols.append(aggf(f"_bv{i}").over(wprev).alias(f"_tp_pv{i}"))
    offs = per.select(*off_cols)
    out = b.join(F.broadcast(offs), "_tpb")
    drop = ["_tpb", "_tp_mn", "_tp_mx", "_tp_pc"]
    for i, (val, kind, name, inclusive) in enumerate(specs):
        aggf, combine = _PREFIX_KINDS[kind]
        end = 0 if inclusive else -1
        wloc = (
            Window.partitionBy("_tpb")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, end)
        )
        loc = aggf(_c(val)).over(wloc)
        pv = F.col(f"_tp_pv{i}")
        combined = F.when(F.col("_tp_pc") == 0, loc).otherwise(
            F.when(loc.isNull(), pv).otherwise(combine(pv, loc))
        )
        out = out.withColumn(name, combined)
        drop.append(f"_tp_pv{i}")
    return out.drop(*drop)


def with_prefix_agg(
    df,
    key: Column | str,
    tiebreaks: tuple,
    val: Column | str,
    kind: str = "sum",
    nb: int = 64,
    out: str = "cum",
    inclusive: bool = True,
):
    """Single-aggregate convenience wrapper over ``with_prefix_aggs``
    (see its docstring for the exact-equivalence contract)."""
    return with_prefix_aggs(
        df, key, tiebreaks, [(val, kind, out, inclusive)], nb=nb
    )

def literal_df(spark, rows, schema):
    """BOUNDED driver-known rows as a JVM-literal plan. Atomic-typed
    rows become a SQL VALUES LocalRelation, which ``collect()`` answers
    with no Spark job; rows with a non-atomic column (array, map,
    struct, timestamp…) fall back to per-column CASE chains over a
    1-partition Range, one no-op task per action. Use this instead of
    ``spark.createDataFrame`` whenever the rows end up INSIDE a
    returned query plan: a createDataFrame-backed table is a
    Python-RDD scan that re-executes on every downstream action
    (0.15–0.24 s per action for a 1-row table on 4 cores, 0.2–0.7 s
    before the ``pyworker`` daemon — the r10 ml_adaboost_stumps
    finding). Rows must be few (≤ dozens): every row is spelled out in
    the plan. ``schema`` is a StructType or a DDL string."""
    if isinstance(schema, str):
        import pyspark.sql.types as _T

        schema = _T.StructType.fromDDL(schema)
    if not rows:
        return (
            spark.range(0, 1, 1, 1)
            .select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
            .where(F.lit(False))
        )
    # r11: atomic-typed rows render as a VALUES LocalRelation — a
    # collect()/count() over it short-circuits via executeCollect with
    # NO Spark job at all (the Range-CASE form below still launched
    # one no-op task per action, and its CASE chains re-JITed per cold
    # plan). Doubles go through a string cast (java string→double
    # parse is correctly rounded; a bare 1.5 literal would parse as
    # DECIMAL first); strings escape backslash+quote (Spark SQL string
    # literals treat backslash as an escape — the r8 srt.py lesson).
    sql_rows = _values_rows(rows, schema)
    if sql_rows is not None:
        names = ", ".join(
            f"c{ci} AS `{f.name}`" for ci, f in enumerate(schema.fields)
        )
        cnames = ", ".join(f"c{ci}" for ci in range(len(schema.fields)))
        return spark.sql(
            f"SELECT {names} FROM (VALUES {sql_rows}) AS t({cnames})"
        )
    cols = []
    for ci, f in enumerate(schema.fields):
        col = F.when(F.col("id") == 0, F.lit(rows[0][ci]))
        for ri in range(1, len(rows)):
            col = col.when(F.col("id") == ri, F.lit(rows[ri][ci]))
        cols.append(col.cast(f.dataType).alias(f.name))
    # non-atomic fallback — single-partition Range + per-column CASE
    # chains: ONE task per action (a union of one-row projections
    # costs a task per row)
    return spark.range(0, len(rows), 1, 1).select(*cols)


def metric_rows(spark, sf_dir, blocks):
    """Labelled report rows ``[(label, metric, value), ...]`` from
    ``blocks`` of ``(builder, [(label, metric, Column), ...])``: each
    block is one 1-row ``builder(spark, sf_dir).agg(...)`` job with
    every Column cast to long. The blocks run through ``concurrently``,
    so plan building and jobs overlap and carry the caller's job group.
    Rows come back in block order, ready for ``literal_df``."""

    def block(builder, metrics):
        cols = [c.cast("long").alias(f"m{i}")
                for i, (*_, c) in enumerate(metrics)]
        row = builder(spark, sf_dir).agg(*cols).collect()[0]
        return [(lab, met, row[i]) for i, (lab, met, _) in enumerate(metrics)]

    done = concurrently(spark, [partial(block, b, m) for b, m in blocks])
    return [r for rows in done for r in rows]


def _values_rows(rows, schema):
    """Render bounded rows as SQL VALUES cells (every cell cast to its
    exact schema type), or None when a type is outside the atomic set
    (array/map/struct/timestamp…) — caller falls back to Range-CASE."""
    import math

    import pyspark.sql.types as _T

    def cell(v, dt):
        ddl = dt.simpleString()
        if v is None:
            return f"CAST(NULL AS {ddl})"
        if isinstance(dt, (_T.DoubleType, _T.FloatType)):
            fv = float(v)
            if fv != fv:
                return f"CAST('NaN' AS {ddl})"
            if math.isinf(fv):
                return f"CAST('{'-' if fv < 0 else ''}Infinity' AS {ddl})"
            return f"CAST('{fv!r}' AS {ddl})"
        if isinstance(dt, _T.BooleanType):
            return "TRUE" if v else "FALSE"
        if isinstance(
            dt, (_T.LongType, _T.IntegerType, _T.ShortType, _T.ByteType)
        ):
            return f"CAST({int(v)} AS {ddl})"
        if isinstance(dt, _T.DecimalType):
            return f"CAST('{v}' AS {ddl})"
        if isinstance(dt, _T.StringType):
            s = str(v).replace("\\", "\\\\").replace("'", "\\'")
            return f"'{s}'"
        return None

    out = []
    for row in rows:
        cells = [
            cell(row[ci], f.dataType)
            for ci, f in enumerate(schema.fields)
        ]
        if any(c is None for c in cells):
            return None
        out.append("(" + ", ".join(cells) + ")")
    return ", ".join(out)


def with_rank_targets(df, key, tiebreaks, rank_sqls, nb: int = 64):
    """Pick the ``key`` VALUES at specific global ranks (1-based,
    ascending key order) without sorting the whole input.

    ``rank_sqls`` are SQL strings over the bigint column ``nn`` (total
    row count), e.g. ``"(nn - 1) div 2 + 1"`` for the lower median or
    ``"(k * (nn - 1)) div 10 + 1"``-style families (reference ``nn``
    and the 0-based target index ``tid``). Returns one row per target:
    ``(tid, rank, nn, value)`` where ``value`` is the key at that
    global rank — bit-identical to filtering
    ``row_number().over(Window.orderBy(key, *tiebreaks)) == rank``
    (``tiebreaks`` are accepted for signature parity but cannot affect
    the result: the VALUE at a rank is tiebreak-independent).

    Plan — driver-coordinated bounded-histogram locate (the
    ``approxQuantile`` job shape, made exact by refinement):
      1. one scan: global key range;
      2. one scan: nb-row bucket histogram (count + key min/max per
         bucket, map-side combined), COLLECTED — the locate walk,
         the rank-expression evaluation (over a one-row-per-target
         LOCAL relation, so Spark SQL arithmetic semantics are kept
         bit-exactly) and the single-valued-bucket short-circuit
         (min <=> max — includes the all-NULL bucket and any point
         mass) run on the driver over <= nb+1 rows;
      3. for target buckets still multi-valued: one scan of those
         buckets only -> nb-row sub-histograms, collected, located the
         same way (single-valued SUB-buckets answer here);
      4. the final rank pick runs over DISTINCT key values of the
         located sub-buckets only (value + multiplicity prefix sum),
         never over raw rows, with driver-known literal rank bounds.
    The result is a LocalRelation (<= len(rank_sqls) rows): consumers
    broadcast literal rows instead of re-executing a multi-stage
    subplan per action, and the 8-job broadcast-exchange chain of the
    previous all-Spark formulation collapses to <= 4 scans.

    Scale: every collect is bounded by construction — <= nb+1
    histogram rows, <= nb*t sub-histogram rows, <= t result rows —
    independent of input size; the driver never touches raw rows. A
    skewed distribution cannot recreate a hot sort partition:
    dense-but-continuous keys sort ~1/nb**2 of the distinct values;
    exact point masses short-circuit at step 2/3. Use
    ``with_total_rank`` when every row needs its rank.
    """
    import pyspark.sql.types as T
    from pyspark.sql.window import Window

    spark = df.sparkSession
    kv = _c(key)
    k = kv.cast("double")
    vtype = df.select(kv.alias("_v")).schema[0].dataType
    out_schema = T.StructType(
        [
            T.StructField("tid", T.LongType()),
            T.StructField("rank", T.LongType()),
            T.StructField("nn", T.LongType()),
            T.StructField("value", vtype),
        ]
    )

    # 1. global key range (one map-side-combined scan)
    mn, mx = df.agg(F.min(k), F.max(k)).first()

    # 2. nb-row first-level histogram, collected (<= nb+1 rows: null
    #    keys park in bucket -1 via _bucket_col's coalesce; an
    #    all-null input has mn None and every row lands there too)
    if mn is None:
        bexpr = F.lit(-1)
    else:
        bexpr = _bucket_col(k, F.lit(mn), F.lit(mx), nb)
    hist = (
        df.groupBy(bexpr.alias("_tpb"))
        .agg(
            F.count(F.lit(1)).alias("_bc"),
            F.min(kv).alias("_bmn"),
            F.max(kv).alias("_bmx"),
            F.min(k).alias("_bdn"),
            F.max(k).alias("_bdx"),
        )
        .collect()
    )
    hist = sorted(hist, key=lambda r: r["_tpb"])
    nn = sum(r["_bc"] for r in hist)
    if nn == 0 or not rank_sqls:
        return literal_df(spark, [], out_schema)

    # rank expressions evaluated by Spark itself over a local relation
    # (one row per target) — identical semantics to the distributed
    # form, no re-implementation of SQL arithmetic on the driver
    rank_case = (
        "CASE "
        + " ".join(
            f"WHEN tid = {i} THEN CAST(({sql}) AS BIGINT)"
            for i, sql in enumerate(rank_sqls)
        )
        + " END"
    )
    import pyspark.sql.types as _T

    # VALUES → LocalRelation: the projection constant-folds and
    # collect() short-circuits via executeCollect — NO Spark job.
    # The literal_df(Range) form launched a 1-task job per call
    # (measured 0.25–0.5 s across the 11 rank-target consumers).
    # Arithmetic still runs in Spark SQL over BIGINT columns —
    # identical semantics to the distributed form.
    vals = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({nn} AS BIGINT))"
        for i in range(len(rank_sqls))
    )
    targets = spark.sql(
        f"SELECT tid, nn, {rank_case} AS rank "
        f"FROM (VALUES {vals}) AS t(tid, nn)"
    ).collect()

    def _veq(a, b):
        """Driver mirror of Spark's ``eqNullSafe``: NULL<=>NULL is
        true, and NaN equals NaN (Spark's total order), unlike
        Python's ``==``."""
        if a is None or b is None:
            return a is None and b is None
        if a != a and b != b:  # both NaN
            return True
        return a == b

    def _locate(rows, rank):
        """(bucket row, offset-below) whose (off, off+count] span
        covers rank, or (None, None) when the rank is out of range —
        the same semantics as the range-join it replaces."""
        off = 0
        for r in rows:
            if off < rank <= off + r[1]:
                return r, off
            off += r[1]
        return None, None

    l1 = [
        (r["_tpb"], r["_bc"], r["_bmn"], r["_bmx"], r["_bdn"], r["_bdx"])
        for r in hist
    ]
    binfo = {r[0]: r for r in l1}
    done = []  # (tid, rank, nn, value)
    multi = []  # (tid, rank, bucket_id, local_rank)
    for t in targets:
        rank = t["rank"]
        if rank is None:
            continue
        r, off = _locate(l1, rank)
        if r is None:
            continue
        tpb, _bc, bmn, bmx, _bdn, _bdx = r
        if _veq(bmn, bmx):
            done.append((t["tid"], rank, nn, bmn))
        else:
            multi.append((t["tid"], rank, tpb, rank - off))
    if not multi:
        return literal_df(spark, done, out_schema)

    # 3. refinement level: re-bucket the (non-null, multi-valued)
    #    target buckets over their OWN key range; sub-histograms
    #    collected (<= nb rows per target bucket)
    tb = sorted({m[2] for m in multi})
    # per-bucket range literals via ONE map lookup each over the
    # pre-projected _tpb attribute — a nested when-chain here embeds
    # the (already sizeable) bucket expression once per level and
    # blows codegen past the 64 KB method limit (interpreted
    # fallback); the map form stays compact
    bdn_map = F.create_map(
        *[x for bid in tb for x in (F.lit(int(bid)), F.lit(binfo[bid][4]))]
    )
    bdx_map = F.create_map(
        *[x for bid in tb for x in (F.lit(int(bid)), F.lit(binfo[bid][5]))]
    )
    sub0 = df.select(
        bexpr.alias("_tpb"), k.alias("_kd"), kv.alias("_kv")
    ).where(F.col("_tpb").isin(*[int(b) for b in tb]))
    sub = sub0.select(
        "_tpb",
        _bucket_col(
            F.col("_kd"),
            F.element_at(bdn_map, F.col("_tpb")),
            F.element_at(bdx_map, F.col("_tpb")),
            nb,
        ).alias("_tpb2"),
        "_kv",
    )
    h2 = (
        sub.groupBy("_tpb", "_tpb2")
        .agg(
            F.count(F.lit(1)).alias("_bc2"),
            F.min("_kv").alias("_bmn2"),
            F.max("_kv").alias("_bmx2"),
        )
        .collect()
    )
    by_bucket = {}
    for r in sorted(h2, key=lambda r: (r["_tpb"], r["_tpb2"])):
        by_bucket.setdefault(r["_tpb"], []).append(
            (r["_tpb2"], r["_bc2"], r["_bmn2"], r["_bmx2"])
        )
    multi2 = []  # (tid, rank, bucket_id, sub_bucket_id, local2_rank)
    for tid, rank, bid, lrank in multi:
        r, off2 = _locate(by_bucket[bid], lrank)
        if r is None:
            continue
        tpb2, _bc2, bmn2, bmx2 = r
        if _veq(bmn2, bmx2):  # keys in level-2 buckets are never null
            done.append((tid, rank, nn, bmn2))
        else:
            multi2.append((tid, rank, bid, tpb2, lrank - off2))
    if not multi2:
        return literal_df(spark, done, out_schema)

    # 4. final pick over DISTINCT values of the located sub-buckets
    #    only: multiplicity prefix sum, driver-known literal bounds
    pair_filter = None
    for _tid, _rank, bid, b2id, _lr2 in multi2:
        c = (F.col("_tpb") == bid) & (F.col("_tpb2") == b2id)
        pair_filter = c if pair_filter is None else (pair_filter | c)
    vals = (
        sub.where(pair_filter)
        .groupBy("_tpb", "_tpb2", "_kv")
        .agg(F.count(F.lit(1)).alias("_vc"))
    )
    wcum = (
        Window.partitionBy("_tpb", "_tpb2")
        .orderBy("_kv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tv2 = vals.withColumn("_vcum", F.sum("_vc").over(wcum))
    t2 = literal_df(
        spark,
        [(tid, rank, int(bid), int(b2id), lr2)
         for tid, rank, bid, b2id, lr2 in multi2],
        _T.StructType(
            [
                _T.StructField("tid", _T.LongType()),
                _T.StructField("rank", _T.LongType()),
                _T.StructField("_tpb", _T.IntegerType()),
                _T.StructField("_tpb2", _T.IntegerType()),
                _T.StructField("_lr2", _T.LongType()),
            ]
        ),
    )
    picked = (
        tv2.join(F.broadcast(t2), ["_tpb", "_tpb2"])
        .filter(
            (F.col("_lr2") > F.col("_vcum") - F.col("_vc"))
            & (F.col("_lr2") <= F.col("_vcum"))
        )
        .select("tid", "rank", "_kv")
        .collect()
    )
    done.extend((r["tid"], r["rank"], nn, r["_kv"]) for r in picked)
    return literal_df(spark, done, out_schema)
