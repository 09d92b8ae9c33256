"""Graph operators over a deterministic document link graph
(SURVEY §2.10 extension, north star).

Web-crawl curation is graph work: link-based quality signals
(PageRank-family centrality) and degree profiles are standard
features in crawl-corpus filtering. The corpus has no link column, so
a deterministic synthetic graph is derived from doc_ids (two out-links
per doc via fixed affine maps mod N) — the same synthesis on both
engines, like ``text_pii_scrub``'s synthesized PII.

Determinism: PageRank is computed in INTEGER arithmetic — ranks are
scaled by N·1e6 so the initial rank is exactly 1,000,000; each
iteration is ``150000 + (850000 · Σ (R(u) div outdeg(u))) div 1000000``
over int64. Integer sums are order-independent, so the result is
bit-identical on any engine/partitioning — no float dust from the
usual Σ contributions. (Σ R ≤ N·1e6·850000 ≈ 4·10^15 at sf0.1 —
inside int64, outside double-exact range, hence `div`, never `/`.)

Scale (100 TB): each iteration is one groupBy(dst) shuffle of
(dst, contribution) pairs after map-side combine, joined back to the
node list — the standard Pregel-as-SQL shape. Spark reuses the hash
partitioning of `dst` across iterations; the loop count is fixed (3),
so the lineage stays bounded without checkpointing. The degree profile
is a single map-side-combined aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cs_pipeline_spark.operators.helpers import dec_to_double, dround
from cs_pipeline_spark.registry import register
from cs_pipeline_spark.tables import load, row_count

_ITERS = 3
# two out-links per doc: affine maps mod N; non-coprime multipliers (4, 10) make the
# maps lossy, so the graph has real orphans (in-deg 0) and hubs
_EDGE_SQL = """
  SELECT doc_id AS src, (doc_id * 4 + 3) % {n} AS dst FROM documents
  UNION
  SELECT doc_id, (doc_id * 10 + 5) % {n} FROM documents
"""


def _edges(docs: DataFrame, n_docs: int) -> DataFrame:
    e1 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 4 + 3) % n_docs).alias("dst"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 10 + 5) % n_docs).alias("dst"),
    )
    return e1.union(e2).distinct()


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    # document count used as a literal in the edge synthesis, read from
    # the parquet footer (no Spark job)
    return row_count(spark, "documents", sf_dir)


def _pagerank_oracle() -> str:
    """Unrolled integer-PageRank CTE chain (DuckDB side)."""
    n = "(SELECT COUNT(*) FROM documents)"
    parts = [
        f"WITH edges AS ({_EDGE_SQL.format(n=n)}), ",
        "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src), ",
        "r0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS r "
        "FROM documents)",
    ]
    for t in range(_ITERS):
        parts.append(
            f", s{t} AS ("
            f"SELECT e.dst AS node, SUM(r{t}.r // o.d) AS contrib "
            f"FROM edges e JOIN r{t} ON r{t}.node = e.src "
            "JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f", r{t + 1} AS ("
            f"SELECT r{t}.node, CAST(150000 + "
            f"(850000 * COALESCE(s{t}.contrib, 0)) // 1000000 AS BIGINT) AS r "
            f"FROM r{t} LEFT JOIN s{t} ON s{t}.node = r{t}.node)"
        )
    parts.append(
        f" SELECT node AS doc_id, r AS rank_scaled FROM r{_ITERS}"
    )
    return "".join(parts)


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc=f"integer-exact PageRank ({_ITERS} iterations, damping 0.85) "
    "over the synthetic doc link graph — Pregel-as-SQL, one "
    "map-side-combined shuffle per iteration, bit-stable ranks",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank with ranks scaled to integers (×N·1e6)
    so every operation — per-edge contribution (`div`), damped update —
    is exact int64 arithmetic; see module docstring for the recurrence.

    Dangling nodes simply contribute nothing (their mass is dropped,
    not redistributed) — fine for a ranking signal and far cheaper
    than the global dangling-mass broadcast at scale; with this edge
    synthesis every node has out-degree ≥ 1 anyway.
    """
    docs = load(spark, "documents", sf_dir)
    n = _n_docs(spark, sf_dir)
    edges = _edges(docs, n)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    esrc = edges.join(outdeg, "src")
    ranks = docs.select(
        F.col("doc_id").alias("node"), F.lit(1000000).cast("long").alias("r")
    )
    for _ in range(_ITERS):
        contrib = (
            esrc.join(ranks, esrc.src == ranks.node)
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            ranks.join(contrib, ranks.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(150000).cast("long")
                    + F.expr(
                        "(850000 * coalesce(contrib, 0L)) div 1000000"
                    )
                ).alias("r"),
            )
        )
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("r").alias("rank_scaled")
    )


@register(
    "graph_degree_stats",
    f"""
    WITH edges AS ({_EDGE_SQL.format(n="(SELECT COUNT(*) FROM documents)")}),
    deg AS (
      SELECT n.doc_id,
             COALESCE(o.d, 0) AS out_deg, COALESCE(i.d, 0) AS in_deg
      FROM documents n
      LEFT JOIN (SELECT src, COUNT(*) AS d FROM edges GROUP BY src) o
        ON o.src = n.doc_id
      LEFT JOIN (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst) i
        ON i.dst = n.doc_id
    )
    SELECT CAST(in_deg AS BIGINT) AS in_deg,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(out_deg) AS BIGINT) AS sum_out
    FROM deg GROUP BY in_deg
    """,
    doc="in-degree histogram of the doc link graph (+ out-degree mass "
    "per class) — the hub/orphan profile a crawl-quality filter reads",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile: nodes bucketed by in-degree, with the total
    out-degree mass per bucket. Orphans (in_deg 0) and hubs (high
    in_deg) are the interesting tails for crawl curation.

    Scale: two map-side-combined degree aggregations + broadcast-sized
    join back to the node list (degree tables are ≤ |nodes|), then a
    tiny histogram groupBy. Integer-only.
    """
    docs = load(spark, "documents", sf_dir)
    n = _n_docs(spark, sf_dir)
    edges = _edges(docs, n)
    o = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    i = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    deg = (
        docs.select("doc_id")
        .join(o, docs.doc_id == o.src, "left")
        .join(i, docs.doc_id == i.dst, "left")
        .select(
            F.coalesce("od", F.lit(0)).alias("out_deg"),
            F.coalesce("idg", F.lit(0)).alias("in_deg"),
        )
    )
    return deg.groupBy("in_deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("out_deg").cast("long").alias("sum_out"),
    )


# ---------- triangle counting (degree-ordered orientation) ----------

# undirected edge set: drop self-loops, canonicalize (lo, hi), dedup
_UND_SQL = """
  und AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM edges WHERE src <> dst
  )
"""

# degree-ordered orientation: u→v iff (deg(u), u) < (deg(v), v).
# Every vertex's out-degree is O(√m) under this orientation, which is
# what bounds the wedge join at scale.
_ORIENT_SQL = """
  deg AS (
    SELECT v, COUNT(*) AS d FROM (
      SELECT a AS v FROM und UNION ALL SELECT b FROM und
    ) GROUP BY v
  ),
  oriented AS (
    SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS lo,
           CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS hi
    FROM und u
    JOIN deg da ON da.v = u.a
    JOIN deg db ON db.v = u.b
  )
"""


@register(
    "graph_triangles",
    f"""
    WITH edges AS ({_EDGE_SQL.format(n="(SELECT COUNT(*) FROM documents)")}),
    {_UND_SQL},
    {_ORIENT_SQL},
    wedges AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM oriented e1 JOIN oriented e2
        ON e2.lo = e1.hi
    ),
    tris AS (
      SELECT w.a, w.b, w.c FROM wedges w
      WHERE EXISTS (SELECT 1 FROM und u
                    WHERE u.a = LEAST(w.a, w.c)
                      AND u.b = GREATEST(w.a, w.c))
    ),
    wedge_total AS (
      SELECT SUM(d * (d - 1) // 2) AS n_wedges FROM deg
    )
    SELECT CAST((SELECT COUNT(*) FROM tris) AS BIGINT) AS n_triangles,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           FLOOR(3.0 * (SELECT COUNT(*) FROM tris) / w.n_wedges
                 * 1000000.0 + 0.5) / 1000000.0 AS clustering_coeff
    FROM wedge_total w
    """,
    doc="exact triangle count + global clustering coefficient over the "
    "doc link graph via degree-ordered edge orientation (out-degree "
    "O(√m) per vertex bounds the wedge join — the MapReduce-era "
    "Cohen/Suri-Vassilvitskii pattern, no all-pairs stage)",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census. Orientation by (degree, id) makes every
    triangle countable exactly once from its lowest-ranked vertex and
    caps any vertex's out-degree near √m, so the wedge self-join
    cannot blow up on hubs — the property that keeps this runnable on
    a 100 TB edge list where the naive (all neighbors × all
    neighbors) wedge join dies on the first celebrity node.

    Plan: und/deg/oriented are each one shuffle; the wedge join
    shuffles oriented on (hi)≡(lo) — both sides already small (|und|);
    the closing check is a semi-join against und. Clustering
    coefficient = 3·triangles / wedges, one float division over exact
    integers (identical in both engines), rounded to 6 dp.
    """
    docs = load(spark, "documents", sf_dir)
    n = _n_docs(spark, sf_dir)
    e = _edges(docs, n).filter(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    rank_lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(rank_lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(rank_lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    e2 = oriented.select(
        F.col("lo").alias("b2"), F.col("hi").alias("c")
    )
    wedges = oriented.join(e2, oriented.hi == e2.b2).select(
        F.col("lo").alias("wa"), F.col("hi").alias("wb"), "c"
    )
    closing = wedges.select(
        "wa",
        "wb",
        "c",
        F.least("wa", "c").alias("a"),
        F.greatest("wa", "c").alias("b"),
    )
    tris = closing.join(und, ["a", "b"], "left_semi")
    n_tri = tris.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_wedge = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    return n_tri.join(F.broadcast(n_wedge)).select(
        "n_triangles",
        "n_wedges",
        dround(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("clustering_coeff"),
    )


@register(
    "graph_common_neighbors",
    f"""
    WITH edges AS ({_EDGE_SQL.format(n="(SELECT COUNT(*) FROM documents)")}),
    {_UND_SQL},
    nbr AS (
      SELECT a AS v, b AS n FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT v, COUNT(*) AS d FROM nbr GROUP BY v),
    cand AS (
      SELECT n1.v AS x, n2.v AS y, COUNT(*) AS n_common
      FROM nbr n1 JOIN nbr n2 ON n1.n = n2.n AND n1.v < n2.v
      GROUP BY n1.v, n2.v
      HAVING COUNT(*) >= 2
    )
    SELECT c.x, c.y, CAST(c.n_common AS BIGINT) AS n_common,
           FLOOR(CAST(c.n_common AS DOUBLE)
                 / (dx.d + dy.d - c.n_common) * 1000000.0 + 0.5)
             / 1000000.0 AS jaccard
    FROM cand c
    JOIN deg dx ON dx.v = c.x
    JOIN deg dy ON dy.v = c.y
    WHERE NOT EXISTS (SELECT 1 FROM und u
                      WHERE u.a = c.x AND u.b = c.y)
    """,
    doc="link prediction: non-adjacent node pairs with ≥2 common "
    "neighbors, scored by neighbor-Jaccard — wedge-join candidate "
    "generation (never all-pairs), anti-join drops existing edges",
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction. Candidates come only
    from wedges (pairs sharing a neighbor) — the candidate set is
    Σ d(v)² over neighbors, not |V|², and the HAVING ≥2 cut keeps the
    output to genuinely-similar pairs. Existing edges are removed by
    an anti-join so the output is strictly *predicted* links.

    Scale: the wedge self-join shuffles the neighbor list on the
    shared-neighbor key — hub nodes fan out d² pairs, so at 100 TB
    the standard mitigation is capping/sampling hub adjacency (drop
    v with d > ~10⁴) before the self-join; here degrees are bounded
    by the synthesis (≤ ~6). Jaccard = common/(dx+dy−common): one
    float division over exact integers, 6 dp.
    """
    docs = load(spark, "documents", sf_dir)
    n = _n_docs(spark, sf_dir)
    e = _edges(docs, n).filter(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    nbr = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    n1 = nbr.select(F.col("v").alias("x"), F.col("n"))
    n2 = nbr.select(F.col("v").alias("y"), F.col("n"))
    cand = (
        n1.join(n2, "n")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    existing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("dy"))
    return (
        cand.join(existing, ["x", "y"], "left_anti")
        .join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            F.col("n_common").cast("long").alias("n_common"),
            dround(
                F.col("n_common").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "graph_bipartite_project",
    """
    WITH e AS (SELECT DISTINCT source, lang FROM documents),
    deg AS (SELECT source, COUNT(*) AS d FROM e GROUP BY source),
    p AS (SELECT a.source AS source_a, b.source AS source_b,
            COUNT(*) AS common_langs
          FROM e a JOIN e b ON a.lang = b.lang AND a.source < b.source
          GROUP BY 1, 2)
    SELECT p.source_a, p.source_b, p.common_langs,
           CAST(p.common_langs AS DOUBLE)
             / CAST(da.d + db.d - p.common_langs AS DOUBLE) AS lang_jaccard
    FROM p JOIN deg da ON da.source = p.source_a
           JOIN deg db ON db.source = p.source_b
    """,
    doc="bipartite projection: source pairs weighted by shared-language "
    "count + Jaccard over language sets — the co-occurrence graph "
    "(doc↔attribute) collapsed onto one side",
)
def graph_bipartite_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the doc↔(source, lang) bipartite graph onto sources:
    two sources are linked iff they publish a common language, weighted
    by overlap count and language-set Jaccard. The standard
    co-occurrence construction (user↔item, doc↔entity) used for
    domain-similarity features in crawl curation. Jaccard is one
    division of exact integers — engine-identical.

    Scale: the corpus collapses to DISTINCT (source, lang) FIRST — the
    projection join runs on the distinct edge set (≪ corpus), never on
    documents. The join key is the attribute (lang); a hot attribute
    shared by k sources emits k² pairs, so production bounds attribute
    degree (drop attributes above a cap — same hot-bucket guard as the
    LSH dedup path) or switches to top-j-by-source sampling; with
    |langs| and |sources| config-scale here, both sides broadcast.
    """
    docs = load(spark, "documents", sf_dir)
    e = docs.select("source", "lang").distinct()
    deg = e.groupBy("source").agg(F.count(F.lit(1)).alias("d"))
    a, b = e.alias("a"), e.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("common_langs"))
    )
    da = deg.select(F.col("source").alias("source_a"), F.col("d").alias("da"))
    db = deg.select(F.col("source").alias("source_b"), F.col("d").alias("db"))
    return (
        p.join(F.broadcast(da), "source_a")
        .join(F.broadcast(db), "source_b")
        .select(
            "source_a",
            "source_b",
            "common_langs",
            (
                F.col("common_langs").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_langs")).cast(
                    "double"
                )
            ).alias("lang_jaccard"),
        )
    )


_BFS_SEEDS = 4  # seed set = doc_id < 4
_BFS_HOPS = 6


def _bfs_oracle() -> str:
    """Unrolled BFS level chain (DuckDB side) — unrolled rather than
    WITH RECURSIVE so each level is an explicit MIN-merge (the
    recursive form's cross-branch dedup rules differ; see the
    pagerank chain for the same convention)."""
    n = "(SELECT COUNT(*) FROM documents)"
    parts = [
        f"WITH edges AS ({_EDGE_SQL.format(n=n)}), ",
        f"d0 AS (SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist "
        f"FROM documents WHERE doc_id < {_BFS_SEEDS})",
    ]
    for t in range(_BFS_HOPS):
        parts.append(
            # MATERIALIZED: each level is referenced twice by its
            # successor — inlining would inflate work 2^hops
            f", d{t + 1} AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{t} "
            f"UNION ALL "
            f"SELECT e.dst AS node, d{t}.dist + 1 AS dist "
            f"FROM d{t} JOIN edges e ON e.src = d{t}.node"
            f") u GROUP BY node)"
        )
    parts.append(
        f" SELECT node, dist FROM d{_BFS_HOPS}"
    )
    return "".join(parts)


@register(
    "graph_bfs_distance",
    _bfs_oracle(),
    doc=f"multi-source BFS: exact hop distance from the {_BFS_SEEDS}-seed "
    f"set within {_BFS_HOPS} hops over the synthetic link graph — "
    "frontier-expansion joins with MIN-merge per level",
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search: shortest hop count from any
    seed, the reachability/propagation primitive (crawl frontier
    depth, contamination blast radius, link-distance features).

    Level-synchronous BFS as iterated relational algebra: each level
    left-joins the current distance table to the edge list, emits every
    node at its own distance plus every out-neighbour one hop further,
    and MIN-merges per node — monotone (distances only decrease), so
    _BFS_HOPS fixed iterations compute exact distances for every node
    within that radius, deterministically on any partitioning
    (MIN is order-free and idempotent, so a node repeated once per
    out-edge merges to the same distance; no tie-breaking needed).
    Each level reads its predecessor ONCE, so the plan grows linearly
    in the hop count and the whole loop stays one lazy plan: no job
    runs at build time.

    Scale: per level, one hash join frontier×edges (the edge list's
    exchange is reused across levels) plus one map-side-combined MIN
    groupBy. State is (node, dist) pairs — never materializes paths.
    Bounded-hop BFS is the 100 TB-safe form; unbounded diameters want
    the doubling (pointer-jumping) trick ``dedup_clusters`` uses for
    components.
    """
    docs = load(spark, "documents", sf_dir)
    out = _edges(docs, _n_docs(spark, sf_dir)).withColumnRenamed("src", "node")
    d = docs.filter(F.col("doc_id") < _BFS_SEEDS).select(
        F.col("doc_id").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    for _ in range(_BFS_HOPS):
        d = (
            d.join(out, "node", "left")
            .select(
                F.inline(
                    F.array(
                        F.struct("node", "dist"),
                        F.struct(
                            F.col("dst").alias("node"),
                            (F.col("dist") + 1).alias("dist"),
                        ),
                    )
                )
            )
            .filter(F.col("node").isNotNull())
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return d


_KCORE_K = 3
_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    """Unrolled peeling chain: both engines run the IDENTICAL fixed
    number of rounds, so the hash comparison never depends on a
    convergence judgement; exactness of the fixed-round result is
    asserted against a driver-side reference in tests.

    Every level is AS MATERIALIZED: each level references its
    predecessor twice, and an inlining planner would otherwise double
    the work per level (2^rounds blowup — the same trap the Spark side
    avoids with per-round localCheckpoint)."""
    n = "(SELECT COUNT(*) FROM documents)"
    parts = [
        f"WITH de AS MATERIALIZED ({_EDGE_SQL.format(n=n)}), ",
        # undirected: both directions, self-loops dropped
        "ed AS MATERIALIZED (SELECT src, dst FROM de WHERE src <> dst "
        "UNION SELECT dst, src FROM de WHERE src <> dst), ",
        "n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed)",
    ]
    for t in range(_KCORE_ROUNDS):
        parts.append(
            f", n{t + 1} AS MATERIALIZED ("
            f"SELECT e.src AS node FROM ed e "
            f"JOIN n{t} a ON a.node = e.src "
            f"JOIN n{t} b ON b.node = e.dst "
            f"GROUP BY e.src HAVING COUNT(*) >= {_KCORE_K})"
        )
    parts.append(
        f" SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree "
        f"FROM ed e JOIN n{_KCORE_ROUNDS} a ON a.node = e.src "
        f"JOIN n{_KCORE_ROUNDS} b ON b.node = e.dst GROUP BY e.src"
    )
    return "".join(parts)


@register(
    "graph_k_core",
    _kcore_oracle(),
    doc=f"{_KCORE_K}-core decomposition by iterative peeling "
    f"({_KCORE_ROUNDS} synchronized rounds): surviving nodes with "
    "their within-core degree — the dense-subgraph/spam-cluster filter",
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core: the maximal subgraph where every node keeps ≥ k
    neighbors *inside the subgraph* — the standard dense-region
    extractor (link-farm/spam-cluster detection, community seeding).

    Computed by synchronous peeling: each round recomputes degrees on
    the surviving node set and drops nodes below k; a node's removal
    can drag neighbors below k only in a LATER round, so rounds are
    monotone and the fixed point is the exact k-core. Both engines
    run the identical fixed round count (no convergence probe inside
    the plan); the round budget's sufficiency is asserted by a
    driver-side reference implementation in tests.

    Scale: each round is one join of the edge list against the
    shrinking node set + one map-side-combined degree count —
    the Pregel-as-SQL shape ``graph_pagerank`` uses, with
    monotonically shrinking state. Peeling rounds needed equals the
    graph's degeneracy ordering depth, typically ≪ diameter.
    """
    docs = load(spark, "documents", sf_dir)
    de = _edges(docs, _n_docs(spark, sf_dir)).filter(
        F.col("src") != F.col("dst")
    )
    ed = de.select("src", "dst").union(
        de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    ed = ed.localCheckpoint(eager=True)  # evaluated once, reused 2x/round
    nodes = ed.select(F.col("src").alias("node")).distinct()
    for _ in range(_KCORE_ROUNDS):
        a = nodes.withColumnRenamed("node", "src")
        b = nodes.withColumnRenamed("node", "dst")
        nodes = (
            ed.join(a, "src")
            .join(b, "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            # each level feeds TWO joins in the next; without lineage
            # truncation the logical plan doubles per round (observed:
            # Catalyst stack overflow at 12 rounds). Checkpointing
            # makes each round O(1) plan size — the iterative-algorithm
            # rule dedup_clusters also follows.
            .localCheckpoint(eager=True)
        )
    a = nodes.withColumnRenamed("node", "src")
    b = nodes.withColumnRenamed("node", "dst")
    return (
        ed.join(a, "src")
        .join(b, "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("src").alias("node"), "core_degree")
    )


_HITS_ITERS = 3


def _hits_oracle() -> str:
    """Unrolled integer HITS chain — each level references its
    predecessor once, so no materialization is needed (contrast
    ``graph_k_core``)."""
    n = "(SELECT COUNT(*) FROM documents)"
    parts = [
        f"WITH edges AS ({_EDGE_SQL.format(n=n)}), ",
        "h0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS h "
        "FROM documents)",
    ]
    for t in range(_HITS_ITERS):
        parts.append(
            f", a{t + 1} AS ("
            f"SELECT e.dst AS node, SUM(h{t}.h) AS a "
            f"FROM edges e JOIN h{t} ON h{t}.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f", h{t + 1} AS ("
            f"SELECT e.src AS node, SUM(a{t + 1}.a) AS h "
            f"FROM edges e JOIN a{t + 1} ON a{t + 1}.node = e.dst "
            "GROUP BY e.src)"
        )
    parts.append(
        f" SELECT n.doc_id AS node, "
        f"CAST(COALESCE(h{_HITS_ITERS}.h, 0) AS BIGINT) AS hub_score, "
        f"CAST(COALESCE(a{_HITS_ITERS}.a, 0) AS BIGINT) AS auth_score "
        f"FROM documents n "
        f"LEFT JOIN h{_HITS_ITERS} ON h{_HITS_ITERS}.node = n.doc_id "
        f"LEFT JOIN a{_HITS_ITERS} ON a{_HITS_ITERS}.node = n.doc_id"
    )
    return "".join(parts)


@register(
    "graph_hits",
    _hits_oracle(),
    doc=f"integer-exact HITS ({_HITS_ITERS} alternating rounds): hub "
    "and authority scores over the link graph — PageRank's "
    "bipartite-role sibling, pure integer sums",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg): hubs point at good authorities, authorities
    are pointed at by good hubs — the alternating mutual recursion,
    run a fixed number of rounds in PURE INTEGER arithmetic (init 1,
    no normalization): integer sums are order-free, so scores are
    bit-identical on any partitioning, and relative order — the thing
    a ranking consumer uses — matches the normalized iteration's.
    Score growth is bounded by (max_deg²)^rounds ≪ int64 here;
    production runs normalize once at the END (a single division)
    rather than per round.

    Scale: each half-round is one equi-join of the edge list against
    a (node, score) table + a map-side-combined sum — two shuffles per
    round on the same keys, so the exchange partitioning is reused.
    Unlike k-core, each level feeds the next exactly once — lineage
    stays linear and needs no checkpointing.
    """
    docs = load(spark, "documents", sf_dir)
    edges = _edges(docs, _n_docs(spark, sf_dir))
    h = docs.select(
        F.col("doc_id").alias("node"), F.lit(1).cast("long").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        a = (
            edges.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
        h = (
            edges.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
    return (
        docs.select(F.col("doc_id").alias("node"))
        .join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).cast("long").alias("hub_score"),
            F.coalesce("a", F.lit(0)).cast("long").alias("auth_score"),
        )
    )


@register(
    "graph_reciprocity",
    f"""
    WITH de AS ({_EDGE_SQL.format(n="(SELECT COUNT(*) FROM documents)")}),
    e AS (SELECT src, dst FROM de WHERE src <> dst),
    r AS (
      SELECT e.src, e.dst,
             CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END AS recip
      FROM e LEFT JOIN e b ON b.src = e.dst AND b.dst = e.src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(recip) AS BIGINT) AS n_reciprocated,
           CAST(SUM(recip) * 1000000 // COUNT(*) AS BIGINT)
             AS reciprocity_ppm
    FROM r
    """,
    doc="directed-graph reciprocity: share of edges whose reverse "
    "edge also exists (integer ppm) — the mutual-link structure "
    "metric (follower-graph symmetry, citation mutuality)",
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity r = |{(u,v) : (v,u) also an edge}| / |edges| — the
    basic directed-structure statistic (social follow graphs ~0.6+,
    web link graphs ~0.25, citation DAGs ~0): it tells a crawler
    whether links imply mutual endorsement and a sampler whether the
    graph can be treated as undirected. Self-loops excluded.

    One self-join of the edge list on the reversed key; counts and
    the ppm ratio are exact integers.

    Scale: the join is edge-list × edge-list on (dst, src) — hash
    co-partitioned, output bounded by |edges|; counts map-side
    combine. No per-node state.
    """
    docs = load(spark, "documents", sf_dir)
    e = _edges(docs, _n_docs(spark, sf_dir)).filter(
        F.col("src") != F.col("dst")
    )
    b = e.select(
        F.col("src").alias("b_src"), F.col("dst").alias("b_dst")
    )
    r = e.join(
        b,
        (F.col("b_src") == F.col("dst")) & (F.col("b_dst") == F.col("src")),
        "left",
    ).select(
        F.when(F.col("b_src").isNotNull(), 1).otherwise(0).alias("recip")
    )
    return r.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("recip").cast("long").alias("n_reciprocated"),
        F.expr("sum(recip) * 1000000 div count(1)")
        .cast("long")
        .alias("reciprocity_ppm"),
    )


def _assort_oracle() -> str:
    n = "(SELECT COUNT(*) FROM documents)"
    return f"""
    WITH de AS ({_EDGE_SQL.format(n=n)}),
    ed AS (
      SELECT src, dst FROM de WHERE src <> dst
      UNION
      SELECT dst, src FROM de WHERE src <> dst
    ),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS HUGEINT) AS d
            FROM ed GROUP BY src),
    pairs AS (
      SELECT da.d AS x, db.d AS y
      FROM ed JOIN deg da ON da.node = ed.src
              JOIN deg db ON db.node = ed.dst
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
             SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_endpoints,
      CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
        FLOOR(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
        SQRT(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) *
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
        * 1000000000.0 + 0.5) / 1000000000.0
      END AS assortativity
    FROM m
    """


@register(
    "graph_degree_assortativity",
    _assort_oracle(),
    doc="degree assortativity of the undirected link graph: Pearson "
    "correlation of endpoint degrees over all directed edge "
    "orientations, from exact integer moments — positive = hubs link "
    "hubs (social), negative = hub-and-spoke (web/biology)",
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman's degree assortativity coefficient: for every edge
    orientation (u,v) of the undirected graph, correlate deg(u) with
    deg(v). The classic one-number summary of mixing structure —
    crawler frontier policies and partitioning strategies both read
    it (a disassortative graph has the hub-skew that breaks naive
    hash partitioning).

    Same exact-integer-moment Pearson as ``agg_corr``: degree sums
    ride HUGEINT/DECIMAL(38,0), the correlation is one float division
    of exact integers, floor-quantized at 1e-9.

    Scale: degrees come from one map-side-combined groupBy; the two
    degree joins are hash joins on the node key (degree table ≪
    edges, broadcastable); the moment rollup is one 1-row aggregate.
    No iteration, no global sort.
    """
    docs = load(spark, "documents", sf_dir)
    de = _edges(docs, _n_docs(spark, sf_dir)).filter(
        F.col("src") != F.col("dst")
    )
    ed = de.union(
        de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d")
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    pairs = ed.join(da, "src").join(db, "dst")
    m = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = m.n * m.sxx - m.sx * m.sx
    vary = m.n * m.syy - m.sy * m.sy
    cov = m.n * m.sxy - m.sx * m.sy
    r = F.when(
        (varx > 0) & (vary > 0),
        F.floor(
            dec_to_double(cov)
            / F.sqrt(dec_to_double(varx) * dec_to_double(vary))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        / F.lit(1e9),
    )
    return m.select(
        F.col("n").cast("long").alias("n_endpoints"),
        r.alias("assortativity"),
    )


def _modularity_oracle() -> str:
    n = "(SELECT COUNT(*) FROM documents)"
    return f"""
    WITH de AS ({_EDGE_SQL.format(n=n)}),
    ed AS (
      SELECT src, dst FROM de WHERE src <> dst
      UNION
      SELECT dst, src FROM de WHERE src <> dst
    ),
    part AS (SELECT doc_id, lang FROM documents),
    lab AS (
      SELECT e.src, e.dst, pa.lang AS la, pb.lang AS lb
      FROM ed e JOIN part pa ON pa.doc_id = e.src
                JOIN part pb ON pb.doc_id = e.dst
    ),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2 FROM lab),
    comm AS (
      SELECT la AS lang,
             CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS HUGEINT)
               AS e_in,
             CAST(COUNT(*) AS HUGEINT) AS deg
      FROM lab GROUP BY la
    )
    SELECT CAST((SELECT COUNT(*) FROM comm) AS BIGINT) AS n_communities,
           CAST(CAST(m.m2 AS VARCHAR) AS BIGINT) AS n_edge_ends,
           FLOOR((CAST(CAST(SUM(c.e_in) AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(m.m2 AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(SUM(c.deg * c.deg) AS VARCHAR) AS DOUBLE)
                    / (CAST(CAST(m.m2 AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(m.m2 AS VARCHAR) AS DOUBLE)))
                 * 1000000000.0 + 0.5) / 1000000000.0 AS modularity
    FROM comm c CROSS JOIN m GROUP BY m.m2
    """


@register(
    "graph_modularity",
    _modularity_oracle(),
    doc="Newman modularity of the language partition over the link "
    "graph: Q = Σ(e_ii/2m − (d_i/2m)²) from exact integer edge/degree "
    "masses — does the metadata partition explain the link structure?",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity — the community-quality score: how much more
    within-group linkage the partition captures than a degree-
    preserving random graph would. Q ≈ 0 means the grouping (here:
    document language) is structurally meaningless; Q ≫ 0 means links
    respect it and graph-aware curation (per-community sampling,
    crawl budgets) pays. Edge-end and degree masses are exact
    integers over the undirected orientation set; Q is one quantized
    float expression of three exact sums.

    Scale: two id-keyed label joins (partition table broadcast), one
    map-side-combined per-community aggregate, a 1-row reduction —
    evaluating a partition is LINEAR in edges (finding one is the
    hard part; this scores any labeling you already have, including
    ``dedup_clusters`` output).
    """
    docs = load(spark, "documents", sf_dir)
    de = _edges(docs, _n_docs(spark, sf_dir)).filter(
        F.col("src") != F.col("dst")
    )
    ed = de.union(
        de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    part = docs.select("doc_id", "lang")
    lab = (
        ed.join(
            F.broadcast(part.select(F.col("doc_id").alias("src"),
                                    F.col("lang").alias("la"))),
            "src",
        )
        .join(
            F.broadcast(part.select(F.col("doc_id").alias("dst"),
                                    F.col("lang").alias("lb"))),
            "dst",
        )
    )
    d38 = "decimal(38,0)"
    comm = lab.groupBy("la").agg(
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
        .cast(d38)
        .alias("e_in"),
        F.count(F.lit(1)).cast(d38).alias("deg"),
    )
    m = lab.agg(F.count(F.lit(1)).cast(d38).alias("m2"))
    s = comm.crossJoin(F.broadcast(m)).agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("m2").alias("m2"),
        F.sum("e_in").alias("sei"),
        F.sum(F.col("deg") * F.col("deg")).alias("sd2"),
    )
    return s.select(
        "n_communities",
        F.col("m2").cast("long").alias("n_edge_ends"),
        (
            F.floor(
                (dec_to_double("sei") / dec_to_double("m2")
                 - dec_to_double("sd2") / (dec_to_double("m2") * dec_to_double("m2")))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            / F.lit(1e9)
        ).alias("modularity"),
    )


# ---------- graph_label_propagation ----------

_LPA_ITERS = 4


def _lpa_oracle() -> str:
    n = "(SELECT COUNT(*) FROM documents)"
    parts = [
        f"WITH de AS MATERIALIZED ({_EDGE_SQL.format(n=n)}), ",
        "ud AS MATERIALIZED (",
        "  SELECT src, dst FROM de WHERE src <> dst",
        "  UNION",
        "  SELECT dst, src FROM de WHERE src <> dst), ",
        "l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS label "
        "FROM documents)",
    ]
    for t in range(_LPA_ITERS):
        parts.append(
            f", v{t} AS (SELECT e.src AS node, l.label, COUNT(*) AS c "
            f"FROM ud e JOIN l{t} l ON l.node = e.dst GROUP BY 1, 2)"
        )
        parts.append(
            f", b{t} AS (SELECT node, label FROM ("
            f"SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label) AS rn FROM v{t}) WHERE rn = 1)"
        )
        parts.append(
            f", l{t + 1} AS MATERIALIZED ("
            f"SELECT p.node, COALESCE(b.label, p.label) AS label "
            f"FROM l{t} p LEFT JOIN b{t} b USING (node))"
        )
    parts.append(
        f" SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS size "
        f"FROM l{_LPA_ITERS} GROUP BY label"
    )
    return "".join(parts)


@register(
    "graph_label_propagation",
    _lpa_oracle(),
    doc=f"label-propagation community detection ({_LPA_ITERS} "
    "synchronous rounds): each node adopts its neighbors' plurality "
    "label with the smallest-label tie-break — fully deterministic "
    "LPA (no rand ordering), one lazy plan over all rounds; output is "
    "the community-size census the modularity score reads from",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection where ``graph_modularity`` only SCORES a
    given partition: synchronous LPA on the undirected link graph.
    Round t+1: node v takes the most frequent label among its
    neighbors' round-t labels, ties broken by the smallest label (the
    determinism knob — textbook LPA breaks ties randomly, which would
    never hash-match); isolated nodes keep their own label. A fixed
    round count (synchronous LPA can oscillate on bipartite-ish
    structures) makes the output a pure function of the graph.

    Each round reads round t ONCE: ``labels LEFT JOIN und ON node =
    dst`` emits a self row (node, label, v=0) and, per in-edge, a vote
    row (src, label, v=1); summing v per (node, label) gives the vote
    counts, and the row_number pick over (c DESC, label) takes the
    plurality label. A node with no votes keeps its own label because
    its self row (c = 0) is its only candidate; a voted node's own
    label keeps its count, since self rows add 0. So the round needs
    no carry-forward join and no per-round cut, and the whole loop is
    one lazy plan: no job runs at build time. The oracle keeps its
    vote + carry-forward form, AS MATERIALIZED per round; the two agree
    because every edge end is a node (doc ids are 0..N−1 and the edge
    maps land in [0, N)), so no vote row names a node outside the set.

    Scale: per round, one join of the labels to the undirected edge
    list, one groupBy((node, label)) shuffle of self and vote rows
    (map-side combined) and one window over candidates per node — the
    Pregel-as-SQL shape; state per node is one integer label, and the
    plan grows linearly in the round count.
    """
    docs = load(spark, "documents", sf_dir)
    n = _n_docs(spark, sf_dir)
    e = _edges(docs, n).filter(F.col("src") != F.col("dst"))
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .withColumnRenamed("dst", "node")
    )
    labels = docs.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    )
    w = Window.partitionBy("vnode").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(_LPA_ITERS):
        labels = (
            labels.join(und, "node", "left")
            .select(
                F.inline(
                    F.array(
                        F.struct(
                            F.col("node").alias("vnode"),
                            "label",
                            F.lit(0).alias("v"),
                        ),
                        F.struct(
                            F.col("src").alias("vnode"),
                            "label",
                            F.lit(1).alias("v"),
                        ),
                    )
                )
            )
            .filter(F.col("vnode").isNotNull())
            .groupBy("vnode", "label")
            .agg(F.sum("v").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("vnode").alias("node"), "label")
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )


# ---------- deterministic random walks (embedding-prep corpus) ----------

_RW_P = 1000000007
_RW_MULT = 2654435761 % _RW_P
_RW_STEPS = 4


def _rw_oracle() -> str:
    n = "(SELECT COUNT(*) FROM documents)"
    cte = [
        f"edges AS ({_EDGE_SQL.format(n=n)})",
        # per-source neighbor ranks + degree: the walk transition table
        """nbr AS (SELECT src, dst,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rk,
             COUNT(*) OVER (PARTITION BY src) AS deg
           FROM edges)""",
        "w0 AS (SELECT doc_id AS start, doc_id AS cur FROM documents)",
    ]
    prev = "w0"
    for k in range(1, _RW_STEPS + 1):
        cte.append(
            f"""w{k} AS (
              SELECT w.start, n.dst AS cur
              FROM {prev} w JOIN nbr n ON n.src = w.cur
               AND n.rk = ((w.cur % {_RW_P}) * {_RW_MULT} + {k})
                           % {_RW_P} % n.deg + 1)"""
        )
        prev = f"w{k}"
    steps = " UNION ALL ".join(
        f"SELECT {k} AS step, cur FROM w{k}" for k in range(1, _RW_STEPS + 1)
    )
    cte.append(f"visits AS (SELECT step, cur, COUNT(*) AS v FROM ({steps}) GROUP BY step, cur)")
    return (
        "WITH " + ", ".join(cte) + " "
        "SELECT CAST(step AS BIGINT) AS step, "
        "CAST(SUM(v) AS BIGINT) AS n_walks, "
        "CAST(COUNT(*) AS BIGINT) AS n_distinct_nodes, "
        "CAST(MIN(CASE WHEN rnk = 1 THEN cur END) AS BIGINT) AS top_node, "
        "CAST(MAX(CASE WHEN rnk = 1 THEN v END) AS BIGINT) AS top_visits "
        "FROM (SELECT step, cur, v, ROW_NUMBER() OVER ("
        "PARTITION BY step ORDER BY v DESC, cur) AS rnk FROM visits) "
        "GROUP BY step"
    )


@register(
    "graph_random_walks",
    _rw_oracle(),
    doc=f"deterministic random walks ({_RW_STEPS} steps from every "
    "node): next hop = hash(current, step) mod out-degree over a "
    "neighbor-rank transition table — the DeepWalk/node2vec corpus "
    "generator with zero rand(); per-step visit concentration summary "
    "(walk conservation, distinct nodes, argmax hub)",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk corpus generation as relational algebra: a neighbor-rank
    table (rank + out-degree per source) turns 'pick a random
    neighbor' into an equi-join on (src, rank), with the rank drawn by
    an affine-mod-prime hash of (current node, step) — deterministic,
    reproducible, identical on both engines. Four chained joins walk
    every node four steps; the output summarizes per-step visit
    concentration (Σvisits = n walks — conservation is the built-in
    audit).

    Scale: each step is ONE equi-join against the transition table,
    partitioned by node — walks never materialize as strings, and the
    transition table is degree-bounded. At 100 TB with 80 steps this
    is 80 shuffles with a localCheckpoint every ~10 (the iterative
    convention); walk state is one row per (start, position).
    """
    docs = load(spark, "documents", sf_dir)
    n = _n_docs(spark, sf_dir)
    edges = _edges(docs, n)
    wdeg = Window.partitionBy("src")
    nbr = edges.select(
        "src",
        "dst",
        F.row_number()
        .over(Window.partitionBy("src").orderBy("dst"))
        .alias("rk"),
        F.count(F.lit(1)).over(wdeg).alias("deg"),
    )
    cur = docs.select(F.col("doc_id").alias("start"), F.col("doc_id").alias("cur"))
    per_step = []
    for k in range(1, _RW_STEPS + 1):
        nb = nbr.alias(f"n{k}")
        pick = (
            (F.col("w.cur") % _RW_P) * _RW_MULT + F.lit(k)
        ) % _RW_P % F.col(f"n{k}.deg") + 1
        cur = (
            cur.alias("w")
            .join(nb, F.col("w.cur") == F.col(f"n{k}.src"))
            .filter(F.col(f"n{k}.rk") == pick)
            .select(F.col("w.start").alias("start"),
                    F.col(f"n{k}.dst").alias("cur"))
        )
        per_step.append(
            cur.select(F.lit(k).cast("long").alias("step"), "cur")
        )
    allsteps = per_step[0]
    for s_df in per_step[1:]:
        allsteps = allsteps.unionByName(s_df)
    visits = allsteps.groupBy("step", "cur").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    # argmax via lexicographic struct min: highest v, then lowest node
    return visits.groupBy("step").agg(
        F.sum("v").cast("long").alias("n_walks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_nodes"),
        F.min(F.struct((-F.col("v")).alias("nv"), F.col("cur").alias("c")))
        .alias("b"),
    ).select(
        "step",
        "n_walks",
        "n_distinct_nodes",
        F.col("b.c").cast("long").alias("top_node"),
        (-F.col("b.nv")).cast("long").alias("top_visits"),
    )
