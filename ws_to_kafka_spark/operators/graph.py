"""Graph operators over the order network: iterative PageRank and degree
statistics, expressed as DataFrame joins (no GraphX/GraphFrames — plain
Catalyst plans).

The graph is the bipartite customer-supplier purchase network: one edge per
distinct (o_custkey, l_suppkey) pair observed in orders x lineitem, made
symmetric so every node has out-degree >= 1 (no dangling-node mass leak).

The iterative pattern is the canonical DataFrame PageRank: ranks(i+1) =
0.15 + 0.85 * sum over in-edges of rank(i)/outdeg(src). Each iteration is
one shuffle (join on src + re-aggregate on dst). The iteration count is
FIXED (5) so the DuckDB oracle can unroll it as five chained CTEs — no
recursion, bit-identical semantics.

Scale notes (100 TB): the per-iteration plan is join + groupBy — both
shuffle on node id, so co-partitioning carries between iterations once AQE
sees the first exchange. Unrolled loops grow plan lineage linearly;
production runs `localCheckpoint()` every ~5 iterations to truncate it
(documented here, not needed at 5). Power-law degree skew (a mega-hub
supplier) is the classic salting case: split hub in-edge sums into salted
partial sums + a second tiny aggregate. Edge dedup is one exact
distinct — the same shuffle shape as q_dedup_exact.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .. import tables
from ..session import BATCH_WIDTH_CONF
from .dedup import _cached_frame, min_label_fixpoint
from .registry import register

_N_ITER = 5
_DAMP = 0.85


def salted_sum(
    df: DataFrame, keys: list[str], value: str, n_salts: int = 16
) -> DataFrame:
    """Skew-salted grouped SUM — the hub-node treatment this module's
    docstring promises at 100 TB, reusable by any graph aggregate whose
    group key is power-law distributed (a mega-hub supplier's in-edge
    sum, a celebrity node's neighbor count).

    Two-stage shape (the q_join_salted pattern, pipeline_ops.py): rows
    first combine into ``(key, salt)`` partial sums — the hub's rows
    split across ``n_salts`` reducers instead of one straggler — then the
    at-most-``n_salts``-rows-per-key partials combine into the final
    per-key sum. The salt is a deterministic row hash (``xxhash64`` over
    all columns), so re-runs produce identical partials; correctness
    never depends on the salt distribution, only balance does.

    Equality with the unsalted single-stage sum is EXACT for integer
    values; float sums can differ by accumulation-order ulps (the
    q_embed_covariance caveat) — pin tests use integer weights.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.sum(value).alias("_psum"))
    )
    return partial.groupBy(*keys).agg(F.sum("_psum").alias(f"sum_{value}"))


def _pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, _N_ITER + 1):
        iters.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             0.15 + {_DAMP} * SUM(r.pr / d.outdeg) AS pr
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN deg d    ON d.node = e.src
      GROUP BY e.dst
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(iters)
    return f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY src
    ),
    r0 AS (SELECT node, 1.0 AS pr FROM deg),
    {chain}
    SELECT node, ROUND(pr, 6) AS pagerank FROM r{_N_ITER}
    """


@register("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 fixed iterations, damping 0.85) on the symmetric
    customer-supplier purchase graph, as pure DataFrame joins.

    The loop builds the unrolled logical plan in Python; Catalyst sees one
    DAG. The edge frame is reused by every iteration, so it is persisted
    once (it is the size of the distinct pair set, not the fact table).
    See the module docstring for the 100 TB iteration/checkpoint story.
    """
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")

    def build_contrib() -> DataFrame:
        # Nodes are LONG-encoded (customer k -> 2k, supplier k -> 2k+1)
        # through every shuffle: 8-byte fixed keys hash/sort ~2x faster than
        # the 'c123' strings, which only appear in the final projection.
        half = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        edges = half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("outdeg")
        )
        return (
            edges.join(deg, edges.src == deg.node)
            .select(
                "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("inv_deg")
            )
            # Pre-hash-partition the persisted edge list on the join key:
            # every iteration's join then needs only the O(#nodes) ranks
            # side moved into this fixed partitioning — the O(#edges) side
            # never re-shuffles. At 100 TB that is the difference between
            # moving the graph 5 times and moving it once.
            .repartition("src")
        )

    # contribution edge list: (src, dst, 1/outdeg) — persisted ONCE per
    # (app, corpus) via the shared index cache (same pattern as the shingle
    # index): repeated calls reuse it instead of stacking persisted copies.
    contrib = _cached_frame(spark, sf_dir, "pagerank_contrib", build_contrib)
    deg = contrib.select(F.col("src").alias("node")).distinct()
    ranks = deg.select("node", F.lit(1.0).alias("pr"))
    for _ in range(_N_ITER):
        # Measured note: broadcasting the O(|V|) rank side here looks
        # attractive but is 2x SLOWER end-to-end — every iteration's
        # broadcast build serializes through the driver before the next
        # can start, defeating stage pipelining. The shuffle join keeps
        # all 5 iterations flowing: contrib is pre-partitioned on src,
        # so only the small rank side moves (module docstring).
        ranks = (
            contrib.join(ranks, contrib.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg((0.15 + _DAMP * F.sum(F.col("pr") * F.col("inv_deg"))).alias("pr"))
        )
    node_str = (
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), (F.col("node") / 2).cast("long")),
        )
        .otherwise(F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))
        .alias("node")
    )
    return ranks.select(node_str, F.round("pr", 6).alias("pagerank"))


def _build_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared graph index for the triangle family: distinct part
    co-purchase edges, oriented by packed (degree, id) rank."""
    li = tables.load(spark, sf_dir, "lineitem")
    po = li.select("l_orderkey", "l_partkey").distinct()
    a, b = po.alias("a"), po.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("ea"),
            F.col("b.l_partkey").alias("eb"),
        )
        .distinct()
    )
    deg = (
        edges.select(F.explode(F.array("ea", "eb")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # rank = (degree, id); broadcast the O(|V|) degree table on both ends
    da = deg.select(F.col("node").alias("ea"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("eb"), F.col("d").alias("db"))
    ranked = edges.join(F.broadcast(da), "ea").join(F.broadcast(db), "eb")
    fwd = F.struct("da", "ea") < F.struct("db", "eb")
    # The (degree, id) rank is packed into ONE long (degree in the
    # high bits) so the wedge filter — evaluated Σ C(outdeg⁺, 2)
    # times, the hottest expression of the whole plan — is a single
    # long compare instead of a struct compare. Safe while id and
    # degree both fit 31 bits; at a scale where they don't, compare
    # the (degree, id) struct directly and pay the constant.
    pack = lambda d, n: F.shiftleft(F.col(d).cast("long"), 32) + F.col(n)
    return ranked.select(
        F.when(fwd, F.col("ea")).otherwise(F.col("eb")).alias("u"),
        F.when(fwd, F.col("eb")).otherwise(F.col("ea")).alias("v"),
        F.when(fwd, pack("db", "eb")).otherwise(pack("da", "ea")).alias("vr"),
    # The wedge self-join keys on u; persisting the index already
    # hash-partitioned on u lets BOTH sides of that self-join reuse
    # the stored partitioning instead of re-shuffling the edge list
    # twice (the closing join needs (v1, v2) and must shuffle anyway).
    ).repartition("u")


@register(
    "q_graph_triangles",
    oracle="""
    WITH po AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT p1.l_partkey AS a, p2.l_partkey AS b
      FROM po p1 JOIN po p2 ON p1.l_orderkey = p2.l_orderkey
       AND p1.l_partkey < p2.l_partkey
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_count
      FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      )
      GROUP BY node
    )
    SELECT CAST(LENGTH(BIN(tri_count)) AS INT) AS tri_bucket,
           CAST(COUNT(*) AS BIGINT)            AS n_parts,
           CAST(SUM(tri_count) AS BIGINT)      AS sum_node_triangles
    FROM per_node
    GROUP BY tri_bucket
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts are adjacent
    when some order contains both), reported as a log2-bucket histogram of
    per-part triangle participation.

    The enumeration is the degree-ordered "compact-forward" algorithm
    (Latapy 2008; also GraphX's TriangleCount orientation): every
    undirected edge is oriented from the endpoint of LOWER (degree, id)
    rank to the higher one, wedges are built only at an edge's lower-rank
    end, and a wedge (u→v1, u→v2) closes iff the oriented edge v1→v2
    exists. Orientation makes the wedge count Σ C(outdeg⁺, 2) where
    outdeg⁺ is the FORWARD degree — on power-law graphs that is
    O(m^{3/2}) total work instead of the Σ C(deg, 2) of naive wedge
    building, because a hub's edges all point INTO it and generate no
    wedges at the hub. That is the entire 100 TB story: the id-ordered
    oracle enumeration (fine for DuckDB at test scale) would put the
    whole wedge load on whichever side of the hub has the small ids.

    Scale notes: the degree table is O(|V|) and broadcast; the only big
    shuffles are the edge distinct and the two self-joins on edge keys.
    Each triangle is found exactly once (rank-ordered), then exploded to
    its 3 corners for the per-node counts — the same explode + grouped
    count shape as the dedup family. The bucket key uses the integer bit
    length (``length(bin(n))``), not float ``log2``, so both engines
    agree at exact powers of two."""
    # Oriented edge list = the graph index. Persisted ONCE per (app,
    # corpus) via the shared index cache — without it the whole
    # distinct-edge pipeline (the expensive part) re-executes for each of
    # the three references below (o1, o2, closing); Spark does not dedupe
    # common subtrees across self-joins. q_graph_edge_support shares the
    # same cache key, so running both graph queries builds the index once.
    oriented = _cached_frame(
        spark, sf_dir, "triangle_oriented",
        lambda: _build_oriented(spark, sf_dir),
    )
    # Adjacency-intersection enumeration (round-4 rework, ~2x over the
    # wedge-join form): instead of MATERIALIZING the Σ C(outdeg⁺, 2)
    # wedge set and probing a broadcast edge map per wedge row, group the
    # oriented edges into per-node forward-neighbor arrays (reuses the
    # stored u-partitioning — no exchange), broadcast that O(|V|+|E|)
    # adjacency (~10 MB at sf0.1), and compute N⁺(u) ∩ N⁺(v) per EDGE
    # map-side. Same asymptotic work (Σ_e |N⁺(u)|+|N⁺(v)| ~ Σ outdeg⁺²)
    # but done by one vectorized array_intersect per edge inside the JVM,
    # with only ACTUAL triangles ever becoming rows. Each triangle
    # (u<v<w by rank) is found exactly once, at its oriented edge (u,v):
    # w ∈ N⁺(v) forces rank(v) < rank(w). At 100 TB the adjacency
    # outgrows a broadcast; then shuffle-join both adjacency lookups on
    # their keys (the index partitioning already matches the u side) and
    # accept the one exchange on v.
    adj = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    )
    adj_u = adj.select(F.col("u").alias("au"), F.col("nbrs").alias("nbrs_u"))
    adj_v = adj.select(F.col("u").alias("av"), F.col("nbrs").alias("nbrs_v"))
    base = (
        oriented.join(F.broadcast(adj_u), F.col("u") == F.col("au"))
        # left: a sink node (every edge points INTO it) has no adjacency row
        .join(F.broadcast(adj_v), F.col("v") == F.col("av"), "left")
        .select(
            "u",
            "v",
            F.array_intersect(
                "nbrs_u", F.coalesce("nbrs_v", F.array().cast("array<long>"))
            ).alias("ws"),
        )
        .withColumn("nw", F.size("ws").cast("long"))
        .filter(F.col("nw") > 0)
    )
    # One explode carries all three corners (u and v weighted by the
    # intersection size, each w by 1) so the intersection is computed
    # once per edge; explode_outer per the CLAUDE.md generator-inlining
    # note (a plain explode infers size>0 and re-inlines the array expr).
    corners = F.concat(
        F.array(
            F.struct(F.col("u").alias("node"), F.col("nw").alias("cnt")),
            F.struct(F.col("v").alias("node"), F.col("nw").alias("cnt")),
        ),
        F.transform(
            "ws",
            lambda w: F.struct(
                w.alias("node"), F.lit(1).cast("long").alias("cnt")
            ),
        ),
    )
    per_node = (
        base.select(F.explode_outer(corners).alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy(F.col("c.node").alias("node"))
        .agg(F.sum("c.cnt").alias("tri_count"))
    )
    return (
        per_node.groupBy(
            F.length(F.bin("tri_count")).cast("int").alias("tri_bucket")
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("tri_count").alias("sum_node_triangles"),
        )
    )


@register(
    "q_graph_degrees",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o_custkey, l_suppkey
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    cdeg AS (SELECT o_custkey, COUNT(*) AS deg FROM e0 GROUP BY o_custkey)
    SELECT CAST(deg AS BIGINT)        AS supplier_count,
           CAST(COUNT(*) AS BIGINT)  AS n_customers
    FROM cdeg
    GROUP BY deg
    """,
)
def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the purchase graph: how many
    customers bought from exactly k distinct suppliers.

    Scale: distinct pair set (one shuffle), per-customer count (same key —
    AQE reuses the partitioning), then a tiny histogram aggregate. The
    degree histogram is the first diagnostic for join-skew planning: its
    tail tells you whether the PageRank/join path above needs salting.
    """
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("o_custkey")
        .agg(F.count("*").alias("supplier_count"))
        .groupBy("supplier_count")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q_graph_edge_support",
    oracle="""
    WITH po AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT p1.l_partkey AS a, p2.l_partkey AS b
      FROM po p1 JOIN po p2 ON p1.l_orderkey = p2.l_orderkey
       AND p1.l_partkey < p2.l_partkey
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    sup AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT x AS a, y AS b FROM tri
        UNION ALL SELECT x, z FROM tri
        UNION ALL SELECT y, z FROM tri
      ) GROUP BY a, b
    )
    SELECT s.a, s.b, s.support,
           FLOOR(s.support * 1.0
                 / (da.d + db.d - 2 - s.support) * 1000000 + 0.5)
             / 1000000 AS jaccard
    FROM sup s JOIN deg da ON da.node = s.a JOIN deg db ON db.node = s.b
    """,
)
def q_graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness (tie strength): for every co-purchase edge that
    closes at least one triangle, its SUPPORT (triangles containing it)
    and neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)\\{a,b}| — the
    link-prediction / community-strength signal (Granovetter ties,
    k-truss peeling starts exactly from this support count).

    Reuses q_graph_triangles' machinery end-to-end: the SAME persisted
    oriented edge index (shared `_cached_frame` key, so running both
    queries builds the graph once), the same rank-ordered wedge
    enumeration finding each triangle once, then each triangle charges
    its three edges (normalized to (min-id, max-id)) and a grouped count
    + two broadcast degree joins produce the metric. Zero-support edges
    are deliberately absent — at web scale the supported-edge set is the
    sparse interesting one; a left join against the edge index restores
    the zeros if a consumer needs them.

    The denominator d(a)+d(b)-2-support is exact set algebra (each
    endpoint's neighborhood includes the other, excluded by the -2), so
    the Jaccard needs no nullif: support >= 1 implies the union is
    nonempty.
    """
    oriented = _cached_frame(
        spark, sf_dir, "triangle_oriented",
        lambda: _build_oriented(spark, sf_dir),
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(o2, "u").where(F.col("o1.vr") < F.col("o2.vr"))
    closing = oriented.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    tri = wedges.join(
        F.broadcast(closing),
        (F.col("o1.v") == F.col("cu")) & (F.col("o2.v") == F.col("cv")),
    ).select("u", F.col("o1.v").alias("v1"), F.col("o2.v").alias("v2"))
    pair = lambda x, y: F.struct(
        F.least(F.col(x), F.col(y)).alias("a"),
        F.greatest(F.col(x), F.col(y)).alias("b"),
    )
    sup = (
        tri.select(
            F.explode(
                F.array(pair("u", "v1"), pair("u", "v2"), pair("v1", "v2"))
            ).alias("e")
        )
        .select("e.a", "e.b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )
    deg = (
        oriented.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    joined = sup.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    jac = (
        F.col("support")
        * 1.0
        / (F.col("da") + F.col("db") - 2 - F.col("support"))
    )
    return joined.select(
        "a",
        "b",
        "support",
        (F.floor(jac * 1000000 + 0.5) / 1000000).alias("jaccard"),
    )




_TRUSS_PEELS = 2   # fixed peel rounds so the oracle unrolls (like PageRank)
_TRUSS_PSIZE = 12  # part family bound: keeps the id-ordered oracle tractable


def _truss_oracle() -> str:
    """Unrolled median-threshold truss peeling: per round, recompute
    per-edge support on the surviving subgraph, then keep edges at or
    above the round's MEDIAN support (rank-based: the largest support
    level s with |{support >= s}| >= half the edges — exact integer
    logic, no interpolation, so both engines agree at any scale)."""
    parts = [f"""
    WITH po AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size <= {_TRUSS_PSIZE}
    ),
    e0 AS (
      SELECT DISTINCT p1.l_partkey AS a, p2.l_partkey AS b
      FROM po p1 JOIN po p2 ON p1.l_orderkey = p2.l_orderkey
       AND p1.l_partkey < p2.l_partkey
    )"""]
    prev = "e0"
    for i in range(1, _TRUSS_PEELS + 1):
        parts.append(f""",
    tri{i} AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM {prev} e1
      JOIN {prev} e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN {prev} e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    sup{i} AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
        SELECT x AS a, y AS b FROM tri{i}
        UNION ALL SELECT x, z FROM tri{i}
        UNION ALL SELECT y, z FROM tri{i}
      ) GROUP BY a, b
    ),
    cum{i} AS (
      SELECT support,
             SUM(c) OVER (ORDER BY support DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM (SELECT support, COUNT(*) AS c FROM sup{i} GROUP BY support)
    ),
    thr{i} AS (
      SELECT MAX(support) AS t FROM cum{i}
      WHERE 2 * cum >= (SELECT COUNT(*) FROM sup{i})
    ),
    e{i} AS (
      SELECT a, b FROM sup{i}, thr{i} WHERE support >= t
    )""")
        prev = f"e{i}"
    parts.append(f"""
    SELECT s.a, s.b, s.support
    FROM sup{_TRUSS_PEELS} s
    JOIN e{_TRUSS_PEELS} e ON e.a = s.a AND e.b = s.b
    """)
    return "".join(parts)


@register("q_graph_truss", oracle=_truss_oracle())
def q_graph_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truss-style community-core peeling (_TRUSS_PEELS fixed rounds): each round
    recomputes per-edge triangle support on the SURVIVING subgraph and
    drops the weak half — edges below the round's median support — so
    the result is the dense co-purchase core at any data scale (a fixed
    absolute k cannot peel meaningfully at both sf0.001 and sf0.01:
    their support medians differ 4x). Fixed round count so the DuckDB
    oracle unrolls (the PageRank pattern); classic k-truss iterates the
    same plan to fixpoint with an absolute threshold. The graph is the
    SMALL-PARTS family (p_size <= _TRUSS_PSIZE, a broadcast dimension filter):
    the Spark side would happily peel the full graph, but the oracle's
    id-ordered triangle enumeration has no degree orientation and goes
    quadratic-ish on the full co-purchase graph — bounding the family
    keeps the cross-check tractable while exercising the identical
    dataflow.

    The median is computed IN-PLAN with exact integer logic: a tiny
    support histogram (O(max support) rows), a descending cumulative
    count, and the largest level s with 2*cum(s) >= |E| — no collect(),
    no interpolating percentile (whose .5 results would need float
    comparisons), and the 1-row threshold frame broadcasts back like
    q_drift_psi's totals. Per round the subgraph is re-oriented by its
    own (degree, id) rank — degrees change as edges drop, so rank reuse
    across peels is the classic truss bug — and `localCheckpoint`
    truncates the doubling lineage, same as the iterative CC in
    q_dedup_clusters.
    """

    def support_of(edges: DataFrame) -> DataFrame:
        deg = (
            edges.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        da = deg.select(F.col("node").alias("a"), F.col("d").alias("dda"))
        db = deg.select(F.col("node").alias("b"), F.col("d").alias("ddb"))
        ranked = edges.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
        fwd = F.struct("dda", "a") < F.struct("ddb", "b")
        pack = lambda d, n: F.shiftleft(F.col(d).cast("long"), 32) + F.col(n)
        o = ranked.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(fwd, pack("ddb", "b")).otherwise(pack("dda", "a")).alias("vr"),
        ).localCheckpoint(eager=False)
        o1, o2 = o.alias("o1"), o.alias("o2")
        wedges = o1.join(o2, "u").where(F.col("o1.vr") < F.col("o2.vr"))
        closing = o.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
        tri = wedges.join(
            F.broadcast(closing),
            (F.col("o1.v") == F.col("cu")) & (F.col("o2.v") == F.col("cv")),
        ).select("u", F.col("o1.v").alias("v1"), F.col("o2.v").alias("v2"))
        pair = lambda x, y: F.struct(
            F.least(F.col(x), F.col(y)).alias("a"),
            F.greatest(F.col(x), F.col(y)).alias("b"),
        )
        return (
            tri.select(
                F.explode(
                    F.array(pair("u", "v1"), pair("u", "v2"), pair("v1", "v2"))
                ).alias("e")
            )
            .select("e.a", "e.b")
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
        )

    def median_keep(sup: DataFrame) -> DataFrame:
        hist = sup.groupBy("support").agg(F.count("*").alias("c"))
        wcum = (
            W.orderBy(F.col("support").desc())
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cum = hist.withColumn("cum", F.sum("c").over(wcum))
        tot = hist.agg(F.sum("c").alias("tot"))
        thr = (
            cum.crossJoin(F.broadcast(tot))
            .filter(2 * F.col("cum") >= F.col("tot"))
            .agg(F.max("support").alias("t"))
        )
        return (
            sup.crossJoin(F.broadcast(thr))
            .filter(F.col("support") >= F.col("t"))
            .select("a", "b")
        )

    li = tables.load(spark, sf_dir, "lineitem")
    part = tables.load(spark, sf_dir, "part").filter(
        F.col("p_size") <= _TRUSS_PSIZE
    ).select("p_partkey")
    po = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pa, pb = po.alias("pa"), po.alias("pb")
    # LAZY checkpoints per peel (round 14, VERDICT item 9 audit): sup is
    # referenced 3x per peel (histogram, total, threshold filter) and
    # edges 2x by the next support pass (degree explode + rank join) —
    # without truncation the plan embeds the whole previous peel once
    # per reference. eager=False truncates the LOGICAL plan immediately
    # (what Catalyst re-optimization cost scales with) while folding the
    # materialization into the first consuming job instead of paying a
    # dedicated scheduling round-trip per frame; the persisted RDD is
    # shared by the remaining references.
    edges = (
        pa.join(pb, "l_orderkey")
        .where(F.col("pa.l_partkey") < F.col("pb.l_partkey"))
        .select(
            F.col("pa.l_partkey").alias("a"), F.col("pb.l_partkey").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sup = None
    for _ in range(_TRUSS_PEELS):
        sup = support_of(edges).localCheckpoint(eager=False)
        edges = median_keep(sup).localCheckpoint(eager=False)
    return sup.join(edges, ["a", "b"]).select("a", "b", "support")


_COMP_MIN_COORDERS = 2
_COMP_MAX_ITERS = 40

_COMP_EDGE_SQL = f"""
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_COMP_MIN_COORDERS}
"""


@register(
    "q_graph_components",
    oracle=f"""
    WITH RECURSIVE half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ), nodes AS (
      SELECT DISTINCT u AS v FROM edges
    ), walk(v, r) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.v
    ), comp AS (
      SELECT v, MIN(r) AS component_id FROM walk GROUP BY v
    )
    SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM comp GROUP BY component_id
    """,
)
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph (parts joined
    when they appear in >= {_COMP_MIN_COORDERS} common orders), reporting
    each component's id (minimum member part) and size — the product-
    affinity clustering shape (and the generic CC every entity-resolution
    / dedup pipeline needs as a standalone graph primitive).

    Algorithm: min-label propagation to a convergence FIXPOINT (checked,
    not assumed — an unconverged exit raises), the same Pregel-on-
    DataFrames loop as q_dedup_clusters but over a graph with a giant
    component (diameter ~10), not near-cliques; the oracle is a DuckDB
    recursive CTE computing min-reachable-vertex, so the driver verifies
    the full iterative computation, threshold filter included.

    Scale: the edge list is built once (distinct + self-join keyed on
    l_orderkey, count-filtered — never quadratic in parts, only in
    per-order basket size) and persisted pre-partitioned on ``u`` via the
    shared index cache, so each round's join moves only the O(|V|) label
    side; labels are localCheckpoint()ed per round to truncate lineage.
    Rounds cost one small shuffle each; count-based convergence telemetry
    scans the checkpointed frame (no extra join).
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    labels = min_label_fixpoint(edges, _COMP_MAX_ITERS, "components")
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(F.count("*").alias("n_nodes"))
        .select("component_id", "n_nodes")
    )


_LPA_ROUNDS = 3

_LPA_ROUND_SQL = """
    , c{i} AS (
      SELECT e.u AS v, l.lbl, COUNT(*) AS cnt
      FROM edges e JOIN lab{prev} l ON l.v = e.v
      GROUP BY e.u, l.lbl
    ), lab{i} AS (
      SELECT v, lbl FROM (
        SELECT v, lbl,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )
"""


@register(
    "q_graph_label_prop",
    oracle=f"""
    WITH half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ), lab0 AS (
      SELECT DISTINCT u AS v, u AS lbl FROM edges
    )
    {"".join(_LPA_ROUND_SQL.format(i=i, prev=i - 1)
             for i in range(1, _LPA_ROUNDS + 1))}
    SELECT lbl AS community_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM lab{_LPA_ROUNDS} GROUP BY lbl
    """,
)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the part co-purchase graph: {_LPA_ROUNDS} fixed
    sync rounds where every node adopts the most frequent label among
    its neighbors (ties -> smallest label), then the community-size
    histogram — the cheap community detector whose output
    q_graph_modularity scores.

    Determinism: classic LPA is order-dependent; this is the
    deterministic variant — SYNCHRONOUS updates (all nodes step on the
    round-i labels), a FIXED round count, and a total tie order
    (max count, then min label) — so both engines compute the identical
    labeling and the oracle can unroll the rounds as {_LPA_ROUNDS}
    join+argmax SQL stages (aggregation inside recursion is not legal
    SQL, so the loop unrolls instead).

    Scale: the edge index is the shared persisted `coorder_part_edges`
    frame (pre-partitioned on u — triangles/components/kcore reuse it);
    each round is one join moving only the O(|V|) label side plus a
    per-NODE window (keyed, never global), localCheckpoint()ed to keep
    lineage flat (module convention for iterative ops). Round count is
    a constant, so the whole operator is {_LPA_ROUNDS} bounded shuffles
    regardless of graph size.
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    labels = edges.select(F.col("u").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        counts = (
            edges.join(
                labels.select(F.col("v").alias("_nv"), "lbl"),
                F.col("_nv") == F.col("v"),
            )
            .groupBy(F.col("u").alias("nv"), "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        # winner = lexicographic min of (-cnt, lbl) — the identical
        # total order the previous row_number window used (cnt desc,
        # lbl asc), as a map-side-combining agg: no per-partition sort,
        # and partial agg collapses label candidates before the
        # exchange. localCheckpoint(eager=False): the plan is truncated
        # to a LogicalRDD leaf immediately (Catalyst never re-embeds
        # earlier rounds) but materialization rides the final action —
        # one job for the whole query instead of one per round
        # (round-13 job census; the q_graph_truss peel already uses
        # the lazy form).
        labels = (
            counts.groupBy("nv")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lbl").alias("lbl")
                    )
                ).alias("m")
            )
            .select(F.col("nv").alias("v"), F.col("m.lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy(F.col("lbl").alias("community_id"))
        .agg(F.count("*").alias("n_nodes"))
        .select("community_id", "n_nodes")
    )


@register(
    "q_graph_jaccard",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), deg AS (
      SELECT supp, COUNT(*) AS deg FROM e GROUP BY supp
    ), common AS (
      SELECT a.supp AS supp_a, b.supp AS supp_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
      GROUP BY a.supp, b.supp
    )
    SELECT c.supp_a, c.supp_b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / CAST(da.deg + db.deg - c.n_common AS DOUBLE), 6)
             AS jaccard
    FROM common c
    JOIN deg da ON da.supp = c.supp_a
    JOIN deg db ON db.supp = c.supp_b
    WHERE c.n_common >= 50
    """,
)
def q_graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between supplier nodes of the
    customer-supplier bipartite graph (suppliers are similar when they
    serve overlapping customer sets) — the structural link-prediction /
    node-similarity score (Liben-Nowell & Kleinberg, 2003).

    Scale: co-neighbor pairs are generated by self-joining the DISTINCT
    edge list on the shared-customer key — quadratic per CUSTOMER degree
    (suppliers-per-customer, bounded by orders-per-customer in this
    model), never an all-pairs supplier product; a hub customer at
    100 TB gets the same df-cap treatment as the PPJoin prefix index
    (drop customers above a degree cap — they contribute near-zero
    Jaccard signal while dominating pair volume). Pair counts shuffle
    on the (supp_a, supp_b) key with map-side combine and the tiny
    per-supplier degree frame is broadcast back twice. Floats: jaccard
    is one IEEE division of exact integers — bit-identical on both
    engines before the cosmetic 6dp round.
    """
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    deg = e.groupBy("supp").agg(F.count("*").alias("deg"))
    a = e.alias("a")
    b = e.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.supp") < F.col("b.supp")),
        )
        .groupBy(
            F.col("a.supp").alias("supp_a"), F.col("b.supp").alias("supp_b")
        )
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 50)
    )
    da = deg.select(F.col("supp").alias("supp_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("supp").alias("supp_b"), F.col("deg").alias("deg_b"))
    return (
        common.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


_BFS_MAX_HOPS = 6


@register(
    "q_graph_bfs",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    ), seed AS (
      SELECT 's' || CAST(MIN(l_suppkey) AS VARCHAR) AS node FROM lineitem
    ), reach(node, hop) AS (
      SELECT node, 0 FROM seed
      UNION
      SELECT e.dst, r.hop + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hop < 6
    )
    SELECT node, CAST(MIN(hop) AS INTEGER) AS hop
    FROM reach GROUP BY node
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest-path hop counts from a deterministic seed
    (the lowest-id supplier) over the customer-supplier bipartite graph
    — the reachability/radius primitive behind influence propagation and
    graph-distance features. The oracle states BFS as a recursive CTE
    with UNION-dedup; the Spark form is the level-synchronous frontier
    loop (Pregel BFS): expand the CURRENT frontier by one edge join,
    anti-join out already-visited nodes, repeat until the frontier
    empties (bounded at 6 hops on both engines).

    Scale: per level, ONE join keyed on the frontier node plus one
    left-anti against the visited set — each level's work is
    O(frontier-adjacent edges), never the whole graph re-scanned; the
    visited/distance frame is `localCheckpoint()`-ed per level so
    lineage stays flat over iterations (the q_graph_components rule).
    Nodes are LONG-encoded through every shuffle (customer k -> 2k,
    supplier k -> 2k+1, the q_graph_pagerank rule: 8-byte fixed keys
    hash/sort ~2x faster than 'c123' strings); the display strings are
    produced only in the final projection. The edge list is persisted
    pre-`repartition("src")` via the shared index cache, so every
    level's join moves ONLY the small frontier side into the fixed
    edge partitioning — the O(|E|) side never re-shuffles, and the
    cache owner handles unpersist even if an iteration raises.
    The level count is the graph diameter (2-3 on this dense bipartite
    model); the empty-frontier early exit is a driver-side COUNT of a
    checkpointed frame, not a data collect. Hops are exact integers —
    zero float risk.
    """
    orders = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        half = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                (F.col("o_custkey") * 2).alias("src"),
                (F.col("l_suppkey") * 2 + 1).alias("dst"),
            )
            .distinct()
        )
        return half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition("src")

    edges = _cached_frame(spark, sf_dir, "bfs_edges", build_edges)
    seed = li.agg((F.min("l_suppkey") * 2 + 1).alias("node")).select(
        "node", F.lit(0).alias("hop")
    )
    dist = seed.localCheckpoint()
    frontier = dist.select("node")
    for k in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(k).alias("hop"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        # lazy: dist is a union of already-persisted checkpoint RDDs, so
        # the eager re-materialization job per hop bought nothing — the
        # leaf-plan truncation (what the checkpoint is FOR) happens at
        # wrap time either way (round-13 job census)
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    node_str = (
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), (F.col("node") / 2).cast("long")),
        )
        .otherwise(
            F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long"))
        )
        .alias("node")
    )
    return dist.select(node_str, F.col("hop"))


_KCORE_K = 3
_KCORE_PEELS = 3


def _kcore_oracle() -> str:
    layers = ["a0 AS (SELECT DISTINCT u AS v FROM edges)"]
    prev = "a0"
    for r in range(1, _KCORE_PEELS + 1):
        layers.append(
            f"""a{r} AS (
      SELECT e.u AS v FROM edges e
      JOIN {prev} x ON x.v = e.u
      JOIN {prev} y ON y.v = e.v
      GROUP BY e.u
      HAVING COUNT(*) >= {_KCORE_K}
    )"""
        )
        prev = f"a{r}"
    chain = ",\n    ".join(layers)
    return f"""
    WITH half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ),
    {chain}
    SELECT e.u AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM edges e
    JOIN {prev} x ON x.v = e.u
    JOIN {prev} y ON y.v = e.v
    GROUP BY e.u
    """


@register("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peel of the part co-purchase graph: {PEELS}
    synchronous rounds of "drop every node with fewer than {K}
    neighbors among survivors", then report each survivor's degree
    WITHIN the surviving set — the dense-subgraph extraction that
    strips low-engagement periphery before community detection (the
    k-core is also the standard seed filter for influence analysis).

    Fixed-round semantics (not loop-to-fixpoint) so the DuckDB oracle
    unrolls as {PEELS} chained CTEs — the q_graph_pagerank convention;
    a fixpoint variant is the q_graph_components-style loop with a
    convergence check, same per-round plan. All values are exact
    integer counts — no float anywhere.

    Scale (round 14 — the round-13 census had this as the registry's
    stage outlier, 118 stages / 1162 tasks, because each peel embedded
    the previous survivor subtree TWICE with no persistence, doubling
    the lineage per peel): the symmetric edge list is the SHARED cached
    index (coorder_part_edges, pre-partitioned on u — triangles/
    components reuse it) and now NEVER moves. Per peel:

    1. view the symmetric index as partitioned-by-its-v column (a pure
       column rename — Spark's alias-aware output partitioning carries
       hash(u) through the projection), so the v-endpoint survival
       semi-join is co-partitioned for the edges: only the O(|V|)
       survivor list shuffles (or broadcasts — post-checkpoint stats
       are actual sizes, so Catalyst picks BHJ when it fits and SMJ at
       scale);
    2. count surviving v-neighbors per u as ONE map-side-combined agg —
       the exchange carries (u, partial_count) pairs, never edge rows
       (guide §2.3, aggregate before you shuffle);
    3. restrict to u ∈ survivors with a semi-join on the tiny count
       frame. (deg(u) over edges with BOTH endpoints surviving ==
       deg(u) over v-surviving edges restricted to surviving u —
       identical rows and counts, oracle-verified.)

    The survivor list is localCheckpoint'ed per peel: a flat O(|V|)
    leaf instead of a per-peel-doubling subtree (semi-join/agg stats
    shrink, so plain checkpoint — no _ckpt_nostats needed per the
    round-10 doubling classifier). Degree skew on hub parts is the
    module's salted_sum case; counts here are per-node degrees bounded
    by basket overlap, far from the straggler regime.
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    # the same symmetric edge SET, exposed partitioned by its v column:
    # row (a, b) keyed on a becomes (u=b, v=a) still keyed on the
    # attribute now named v — a rename, not a shuffle
    edges_by_v = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    active = (
        edges.select("u").distinct().select(F.col("u").alias("v"))
        .localCheckpoint()
    )

    def survivors_degree(act: DataFrame) -> DataFrame:
        deg = (
            edges_by_v.join(act, "v", "left_semi")
            .groupBy("u")
            .agg(F.count("*").alias("deg"))
        )
        return deg.join(
            act.select(F.col("v").alias("u")), "u", "left_semi"
        )

    for _ in range(_KCORE_PEELS):
        active = (
            survivors_degree(active)
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("v"))
            .localCheckpoint()
        )
    return survivors_degree(active).select(
        F.col("u").alias("part"), F.col("deg").cast("long").alias("core_degree")
    )


_NBHD_TOP = 20


@register(
    "q_graph_neighborhood",
    oracle=f"""
    WITH half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ), two_hop AS (
      SELECT e1.u, e2.v AS w
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v
      WHERE e2.v <> e1.u
      UNION
      SELECT u, v AS w FROM edges
    ), ball AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS ball2 FROM two_hop GROUP BY u
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY u
    )
    SELECT b.u AS part, d.degree, b.ball2,
           CAST(ROW_NUMBER() OVER (ORDER BY b.ball2 DESC, b.u)
                AS BIGINT) AS rk
    FROM ball b JOIN deg d ON d.u = b.u
    ORDER BY rk LIMIT {_NBHD_TOP}
    """,
)
def q_graph_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood size (ball cardinality, self excluded) over
    the part co-purchase graph: for each node the count of DISTINCT
    nodes reachable in <= 2 hops — the cheap closeness-centrality proxy
    (a large 2-ball = structurally central) and the standard expansion
    probe run before committing to an iterative centrality at 100 TB.
    Reports the top-{TOP} by ball size with 1-hop degree alongside.

    All-integer counts, total (ball2 DESC, part) ordering — no floats.

    Scale: one edges-with-edges self-join keyed on the shared vertex —
    both sides are the SAME cached frame, so the edge list is built and
    persisted once, but each side still exchanges onto the join key
    (the u-partitioned cache serves the probe side in principle;
    observed plan: AQE inside the cached relation hides the cached
    partitioning, so both sides re-shuffle — an accepted cost, the
    exchange is O(|E|) either way), then a DISTINCT on (u, w) — the
    second shuffle, bounded by the 2-path count. Hub nodes fan out quadratically in degree: at scale
    the standard mitigations are degree-capped sampling per the HyperBall
    line of work, or replacing the exact DISTINCT with HLL sketches
    (q_agg_sketch_merge shows the mergeable-sketch plan) — documented
    tradeoff, exact here. The final top-{TOP} is TakeOrderedAndProject
    (per-partition local top, no global sort).
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    e2 = edges.select(F.col("u").alias("m"), F.col("v").alias("w"))
    two_hop = (
        edges.join(e2, edges["v"] == e2["m"])
        .filter(F.col("w") != F.col("u"))
        .select("u", "w")
        .unionAll(edges.select("u", F.col("v").alias("w")))
        .distinct()
    )
    ball = two_hop.groupBy("u").agg(F.count("*").cast("long").alias("ball2"))
    deg = edges.groupBy("u").agg(F.count("*").cast("long").alias("degree"))
    # top-N FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # local top + driver merge of N rows — never a global window over all
    # O(|V|) nodes), THEN rank the <= _NBHD_TOP-row result; the tiny
    # window is bounded by the limit, not by the graph.
    top = (
        ball.join(deg, "u")
        .orderBy(F.col("ball2").desc(), "u")
        .limit(_NBHD_TOP)
    )
    wr = W.orderBy(F.col("ball2").desc(), "u")
    return top.select(
        F.col("u").alias("part"),
        "degree",
        "ball2",
        F.row_number().over(wr).cast("long").alias("rk"),
    )


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ), deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs
    )
    SELECT m,
      ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / NULLIF(SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0),
            6) AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-purchase
    graph: the Pearson correlation of endpoint degrees over the
    DIRECTED edge list (each undirected edge counted in both
    orientations, the standard convention) — positive means hubs link
    to hubs (social-network shape), negative means hub-and-spoke
    (catalog shape); the structural prior that decides whether hub
    salting will even matter at 100 TB.

    Exactness: the statistic needs only the five integer moment sums
    over edge endpoint degrees — all exact BIGINTs — and then one fixed
    tree of binary IEEE ops (the q_ab_ttest discipline), nullif-guarded
    for the regular-graph zero-variance case, 6dp display round.

    Scale: degree count is one map-side-combinable aggregate; attaching
    the two endpoint degrees is two joins keyed on node id against a
    |V|-row frame (broadcastable until |V| outgrows memory, shuffle
    join beyond — both fine, the shuffle is O(|E|) keyed on 8-byte
    ids); the moment reduce collapses to ONE row regardless of scale.
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    pairs = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("d").alias("x")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("y")), "v")
        .select("x", "y")
    )
    s = pairs.groupBy().agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def d(c):
        return F.col(c).cast("double")

    num = d("m") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(d("m") * d("sxx") - d("sx") * d("sx")) * F.sqrt(
        d("m") * d("syy") - d("sy") * d("sy")
    )
    return s.select(
        "m",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


@register(
    "q_graph_clustering",
    oracle=f"""
    WITH half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ), deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM edges GROUP BY u
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM half e1
      JOIN half e2 ON e2.u = e1.v
      JOIN half e3 ON e3.u = e1.u AND e3.v = e2.v
    ), corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), tcount AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM corners GROUP BY node
    )
    SELECT d.node AS part, d.degree,
           CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
           FLOOR(CASE WHEN d.degree >= 2
                      THEN 2.0 * COALESCE(t.triangles, 0)
                           / (d.degree * (d.degree - 1.0)) END
                 * 1000000 + 0.5) / 1000000 AS clustering
    FROM deg d LEFT JOIN tcount t ON t.node = d.node
    """,
)
def q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2*triangles(v) /
    (deg(v)*(deg(v)-1)) over the co-order part graph — the per-node twin
    of q_graph_triangles' global count (community cores score near 1,
    bridge/hub nodes near 0; the transitivity profile that tells a
    sampling pipeline which neighborhoods are redundant).

    Plan: triangles are LISTED once from the canonical half-edge set
    (u < v) via the two-join closure (e1 ⋈ e2 on the shared middle,
    closed against e3) — each triangle a<b<c appears exactly once, so
    exploding its three corners and counting per node is exact. Degrees
    come from the symmetric cached frame (coorder_part_edges — built
    once per corpus, shared with components/pagerank/bfs/neighborhood).

    Scale: two hash joins on 8-byte node keys + one corner aggregate —
    the same exchange shape as q_graph_truss's support pass. The
    degree-ORIENTED compact-forward in q_graph_triangles cuts the
    wedge count for the global total; listing per-node counts needs the
    closure join either way, and the wedge side stays collision-bounded
    because half-edges are already _COMP_MIN_COORDERS-thresholded.
    Division guards: degree < 2 yields NULL clustering on both engines
    (CASE / F.when, never a bare divide under ANSI).
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    half = edges.filter(F.col("u") < F.col("v"))
    deg = edges.groupBy(F.col("u").alias("part")).agg(
        F.count("*").cast("long").alias("degree")
    )
    e1 = half.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = half.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = half.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("part")
    )
    tcount = corners.groupBy("part").agg(
        F.count("*").cast("long").alias("triangles")
    )
    clustering = F.when(
        F.col("degree") >= 2,
        F.lit(2.0)
        * F.coalesce(F.col("triangles"), F.lit(0))
        / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
    )
    return (
        deg.join(tcount, "part", "left")
        .select(
            "part",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            (F.floor(clustering * 1000000 + F.lit(0.5)) / 1000000).alias(
                "clustering"
            ),
        )
    )


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH RECURSIVE half AS (
      {_COMP_EDGE_SQL}
    ), edges AS (
      SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half
    ), nodes AS (
      SELECT DISTINCT u AS v FROM edges
    ), walk(v, r) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.u, w.r FROM edges e JOIN walk w ON e.v = w.v
    ), comp AS (
      SELECT v, MIN(r) AS community FROM walk GROUP BY v
    ), deg AS (
      SELECT u AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), per_comm AS (
      SELECT c.community,
             CAST(SUM(d.d) AS BIGINT) AS d_c
      FROM comp c JOIN deg d ON d.v = c.v GROUP BY c.community
    ), within AS (
      SELECT cu.community, CAST(COUNT(*) AS BIGINT) AS in_c
      FROM edges e
      JOIN comp cu ON cu.v = e.u
      JOIN comp cv ON cv.v = e.v AND cv.community = cu.community
      GROUP BY cu.community
    ), s AS (
      SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS big_e,
             CAST((SELECT COUNT(*) FROM comp) AS BIGINT) AS n_nodes,
             CAST((SELECT COUNT(*) FROM per_comm) AS BIGINT)
               AS n_communities,
             CAST((SELECT COALESCE(SUM(in_c), 0) FROM within) AS BIGINT)
               AS a_sum,
             CAST((SELECT COALESCE(SUM(d_c * d_c), 0) FROM per_comm)
                  AS BIGINT) AS b_sum
    )
    SELECT n_communities, n_nodes,
           CAST(big_e / 2 AS BIGINT) AS m,
           FLOOR((CAST(big_e AS DOUBLE) * a_sum - b_sum)
                 / (CAST(big_e AS DOUBLE) * big_e) * 1000000 + 0.5)
             / 1000000 AS modularity
    FROM s WHERE big_e > 0
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the connected-component partition of the
    co-order part graph: Q = Σ_c [in_c/E - (d_c/E)²] over directed edge
    count E = 2m — the community-quality score a clustering pipeline
    reports next to its assignment (here the assignment is the exact CC
    labeling, making the oracle a pure recursive CTE; a Louvain pass
    would OPTIMIZE this same objective).

    Exactness: in_c, d_c, and E are exact BIGINTs; Q reduces to ONE
    fixed IEEE tree (E·Σin_c − Σd_c²) / E² evaluated with identical
    association on both engines from identical integer operands —
    floor-scale displayed. Integer bound: Σd_c² stays exact while
    max(d_c) ≤ 2^26 or so; past that the b_sum accumulates in double —
    documented, irrelevant below ~10^8-degree communities.

    Scale: the label loop is q_graph_components' (frontier label prop
    over the shared pre-partitioned edge cache, localCheckpoint per
    round); the modularity pass adds two label joins keyed on 8-byte
    node ids and three scalar aggregates. Empty graph -> empty result
    on both engines (E > 0 gate).
    """
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        op = li.select("l_orderkey", "l_partkey").distinct()
        a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
        b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
        half = (
            a.join(b, "k")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= _COMP_MIN_COORDERS)
            .select("u", "v")
        )
        return (
            half.unionAll(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition("u")
        )

    edges = _cached_frame(spark, sf_dir, "coorder_part_edges", build_edges)
    labels = min_label_fixpoint(edges, _COMP_MAX_ITERS, "modularity labeling")
    deg = edges.groupBy(F.col("u").alias("v")).agg(
        F.count("*").cast("long").alias("d")
    )
    per_comm = (
        labels.join(deg, "v")
        .groupBy(F.col("label").alias("community"))
        .agg(F.sum("d").alias("d_c"))
    )
    lab_u = labels.select(F.col("v").alias("u"), F.col("label").alias("cu"))
    lab_v = labels.select(F.col("v").alias("v"), F.col("label").alias("cv"))
    within = (
        edges.join(lab_u, "u")
        .join(lab_v, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").cast("long").alias("in_c"))
    )
    e_frame = edges.agg(
        F.count("*").cast("long").alias("big_e"),
    )
    stats = (
        per_comm.join(within, "community", "left")
        .agg(
            F.count("*").cast("long").alias("n_communities"),
            F.sum(F.coalesce("in_c", F.lit(0))).alias("a_sum"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("b_sum"),
        )
    )
    n_frame = labels.agg(F.count("*").cast("long").alias("n_nodes"))
    q = (
        (F.col("big_e").cast("double") * F.col("a_sum") - F.col("b_sum"))
        / (F.col("big_e").cast("double") * F.col("big_e"))
    )
    return (
        stats.crossJoin(F.broadcast(e_frame))
        .crossJoin(F.broadcast(n_frame))
        .filter(F.col("big_e") > 0)
        .select(
            "n_communities",
            "n_nodes",
            (F.col("big_e") / 2).cast("long").alias("m"),
            (F.floor(q * 1000000 + F.lit(0.5)) / 1000000).alias("modularity"),
        )
    )


# Strongly connected components — round-count engineering (round 10).
#
# The round-9 implementation ran three LAYER-AT-A-TIME fixpoint loops
# (trim peeled one fringe layer per materialization; forward coloring
# and backward confirm moved labels one hop per round): measured
# 15/30/32 inner rounds and 22 s at sf0.1, with ROUND COUNT — not data
# volume — as the scale hazard (each round is a full scheduling
# round-trip on a real cluster, and a deep DAG fringe made the count
# O(depth)).  Round 10 rebuilds all three loops:
#
#   * TRIM is BATCHED: one materialization kills every node whose
#     longest in-path OR out-path in the live graph is < _SCC_TRIM_DEPTH
#     hops (computed with chained semi-joins — linear plan growth, one
#     job).  Sound because a node with a bounded out-path (or in-path)
#     cannot lie on a cycle, hence is a singleton SCC.  The sf0.1
#     fringe (depth 15) dies in 2 batches instead of 15 rounds.
#   * COLORING and CONFIRM use PATH-DOUBLING SHORTCUTS: every round
#     contributes (lab(v).id -> v) pairs — certified original-graph
#     reachability edges — to the propagation set, so label information
#     travels ~2^k hops after k rounds: O(log diameter) rounds instead
#     of O(diameter).  Shortcut pairs accumulate in a pool that
#     persists across outer passes (reach pairs between still-live
#     nodes stay valid: an SCC's internal paths never route through
#     peeled nodes — a peeled node on such a path would be mutually
#     reachable and hence already inside the SCC).
#   * The pivot order is HASHED: labels are min-propagated
#     (xxhash64(id), id) structs, so an adversarial id layout (e.g. an
#     increasing-id chain, which made the round-9 code peel exactly one
#     root per outer pass) behaves like a random permutation —
#     expected O(log n) outer passes, the randomized-pivot FW-BW
#     analysis of Blelloch–Gu–Shun–Sun (SPAA'16 family).  The emitted
#     scc_id stays MIN(original id) per component (the oracle's
#     quotient), computed after membership is known.
#   * The OUTER loop is bounded by the live-node count, not a fixed
#     structural cap: every pass confirms at least the SCC of the
#     global min-hash live node (nothing can recolor it), so the loop
#     strictly shrinks and a chain of k non-trivial SCCs needs no cap
#     headroom (round-9 ADVICE: the old _SCC_MAX_OUTER=8 raised on >8
#     chained cycles all reachable from the global minimum).
#
# _SCC_MAX_INNER caps DOUBLING rounds (those cover diameters up to
# ~2^72) and the SINGLE-HOP longest-path rounds in q_graph_condensation
# (where it bounds plain DEPTH at 72 — a deeper acyclic condensation
# raises a depth-specific error, distinct from the cycle-invariant
# raise; ADVICE r10). An unconverged exit still RAISES (the
# q_graph_components rule: convergence is checked, never assumed).
_SCC_MAX_INNER = 72
_SCC_TRIM_DEPTH = 8
_SCC_TRIM_MAX_BATCHES = 4

# Size-gated kernel dispatch (the AQE discipline: pick the physical
# strategy from the MEASURED size, not the logical shape).  Below the
# cap the whole edge list is a few tens of MB — one executor task runs
# an iterative Tarjan over it (coalesce(1) + mapInPandas: executor-side
# compute, NOT a driver collect) instead of paying ~30 cluster
# round-trips of label propagation for a graph that fits in a single
# shuffle block.  Above the cap — the 100 TB regime — the distributed
# trim + doubling FW-BW path below runs; tests force it via
# _SCC_FORCE_DISTRIBUTED to pin its round counts and equivalence.
_SCC_LOCAL_EDGE_CAP = 2_000_000
_SCC_FORCE_DISTRIBUTED = False

# Materialization-round telemetry of the LAST _scc_assign_build in this
# process — read by tests/test_graph_ts.py's deep-chain round-count pin
# (the O(log depth) evidence the layer-at-a-time code could not give).
_SCC_LAST_STATS: dict[str, int] = {}

_SCC_EDGE_SQL = """
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey
     AND b.l_linenumber = a.l_linenumber + 1
    WHERE a.l_partkey <> b.l_partkey
      AND a.l_returnflag = 'R' AND b.l_returnflag = 'R'
"""


@register(
    "q_graph_scc",
    oracle=f"""
    WITH RECURSIVE e AS (
      {_SCC_EDGE_SQL}
    ), nodes AS (
      SELECT src AS id FROM e UNION SELECT dst FROM e
    ), reach(a, b) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
    ), scc AS (
      SELECT f.a AS node_id, MIN(f.b) AS scc
      FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a
      GROUP BY f.a
    )
    SELECT CAST(scc AS BIGINT) AS scc_id,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM scc GROUP BY scc
    """,
)
def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED part-transition
    graph (part A -> part B when B is the next line item after A within
    an order, restricted to returned items so the graph keeps the
    classic bow-tie shape: one giant SCC — 1007 of 1877 nodes at
    sf0.01 — plus a DAG fringe of singletons). The directed-graph
    primitive the graph family was missing: components/pagerank/BFS all
    treat edges as symmetric or walk them one way; SCC is the
    mutual-reachability quotient (cycle detection, dependency-knot
    discovery, dead-code/dead-stock analysis).

    Algorithm — trim + forward-backward coloring (the FW-BW-MS family,
    Slota et al.; GraphX's SCC uses the same skeleton), all three loops
    run to a CHECKED fixpoint, round-count-engineered per the module
    notes above _SCC_MAX_INNER:

    1. TRIM, batched: nodes whose longest in-path or out-path is
       bounded (< _SCC_TRIM_DEPTH) cannot lie on a cycle — singleton
       SCCs, killed a full depth-window per materialization.
    2. FORWARD coloring: min-propagation of HASHED pivot structs
       (xxhash64, id tie-break) along edges PLUS path-doubling
       shortcut pairs — O(log diameter) rounds; F is constant on an
       SCC (mutual reachability), so each SCC sits inside one color.
    3. BACKWARD confirm: min-propagate the same structs over
       color-guarded reach pairs (with doubling); v is confirmed iff
       it reaches its root — exactly membership in SCC(root).  Peel,
       re-trim the exposed fringe, repeat; each pass provably peels
       the global min-hash node's SCC, and hashed pivots make the
       expected pass count O(log n) on any id layout.

    The oracle is closure-based, not round-replaying: a DuckDB
    recursive CTE materializes reachability and takes
    scc(v) = MIN(u : u ->* v AND v ->* u) — SCC is a unique quotient,
    so the two engines agree with no shared iteration schedule; the
    driver verifies the RESULT of the whole iterative computation.

    Scale: edges are built once (self-join keyed on (orderkey,
    linenumber) — linear in line items), cached pre-partitioned on src
    via the shared index cache; every propagation round is one small
    shuffle moving the O(|V|) label side plus the accumulated shortcut
    pool (<= rounds * |V| pairs, deduped at each peel) against the
    stationary edge index, localCheckpoint()ed to keep lineage flat
    (the iterative-op discipline). Round count is O(log diameter) per
    pass and expected O(log n) passes (doubling + hashed pivots —
    tests/test_graph_ts.py pins the deep-chain round growth); the
    closure oracle is the verification tool, never the execution plan
    (reach is O(n^2) rows — DuckDB-side only, at the sf0.01 gate
    scale).
    """
    assigned = _scc_assignments(spark, sf_dir)
    return assigned.groupBy("scc_id").agg(F.count("*").alias("n_nodes"))


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached directed transition edge index q_graph_scc and
    q_graph_condensation share (one materialization per app+corpus)."""
    li = tables.load(spark, sf_dir, "lineitem")

    def build_edges() -> DataFrame:
        r = li.filter(F.col("l_returnflag") == "R").select(
            "l_orderkey", "l_linenumber", "l_partkey"
        )
        a, b = r.alias("sa"), r.alias("sb")
        return (
            a.join(
                b,
                (F.col("sa.l_orderkey") == F.col("sb.l_orderkey"))
                & (F.col("sb.l_linenumber") == F.col("sa.l_linenumber") + 1),
            )
            .filter(F.col("sa.l_partkey") != F.col("sb.l_partkey"))
            .select(
                F.col("sa.l_partkey").alias("src"),
                F.col("sb.l_partkey").alias("dst"),
            )
            .distinct()
            .repartition("src")
        )

    return _cached_frame(spark, sf_dir, "scc_transition_edges", build_edges)


def _scc_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, scc_id) for every node of the transition graph — the trim +
    FW-BW coloring loops from q_graph_scc's docstring. CACHED per
    (app, corpus) like the edge index: q_graph_scc and
    q_graph_condensation both consume it, and the fixpoint loops are
    the expensive half (measured 22 s at sf0.1) — one materialization,
    not one per consumer."""
    return _cached_frame(
        spark, sf_dir, "scc_assignments", lambda: _scc_assign_build(spark, sf_dir)
    )


def _ckpt_nostats(df: DataFrame) -> DataFrame:
    """localCheckpoint + STATS RESET for iterative loops.

    Dataset.localCheckpoint snapshots the ESTIMATED stats of the
    checkpointed plan into the resulting LogicalRDD leaf.  An iterative
    loop whose round plan references the previous checkpoint twice in
    join positions then SQUARES sizeInBytes every round: the BigInteger
    bit length doubles per round and Catalyst's
    SizeInBytesOnlyStatsPlanVisitor spends its time on million-digit
    Karatsuba/Toom-Cook multiplications on the driver (measured on the
    SCC loop at sf0.01: round time 0.3 s -> 134 s by round 5, executor
    time flat at ~30 ms).  Rebuilding the frame from the checkpointed
    RDD gives a fresh leaf with flat default stats — JVM-side only, no
    Python serialization of the rows."""
    c = df.localCheckpoint()
    try:
        jdf = c._jdf  # classic API only
    except AttributeError:  # e.g. Spark Connect: keep the plain checkpoint
        return c
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()),
        spark,
    )


def _scc_hash_label(col: str):
    """Orderable (xxhash64(id), id) pivot struct — hashed pivot order
    with an exact id tie-break, so min-propagation is collision-free
    AND free of adversarial id layouts (see the module notes above)."""
    return F.struct(F.xxhash64(F.col(col)).alias("h"), F.col(col).alias("i"))


def _scc_trim_batch(active: DataFrame, live: DataFrame) -> DataFrame:
    """One batched trim materialization: the live nodes whose longest
    in-path OR longest out-path in `live` is < _SCC_TRIM_DEPTH hops.
    Such a node cannot lie on a cycle (a cycle yields arbitrarily long
    paths in both directions), so every returned node is a singleton
    SCC regardless of peel interleaving.  Built with chained leftsemi
    joins, ONE job, linear plan growth — instead of one scheduling
    round-trip per fringe layer.  Deliberately NO per-step distinct:
    semi-joins tolerate duplicate probe rows, step outputs stay <= |E|
    (semi output <= left side), and skipping the dedup shuffle lets
    Catalyst/AQE keep every step a broadcast join — the whole chain
    runs in a handful of stages (the distinct version paid ~32 shuffle
    stages per batch, measured 4.6 s at sf0.01)."""
    out_k = live.select(F.col("src").alias("v"))
    in_k = live.select(F.col("dst").alias("v"))
    for _ in range(_SCC_TRIM_DEPTH - 1):
        out_k = live.join(
            out_k.withColumnRenamed("v", "dst"), "dst", "leftsemi"
        ).select(F.col("src").alias("v"))
        in_k = live.join(
            in_k.withColumnRenamed("v", "src"), "src", "leftsemi"
        ).select(F.col("dst").alias("v"))
    survivors = active.join(out_k, "v", "leftsemi").join(in_k, "v", "leftsemi")
    return active.join(survivors, "v", "left_anti")


def _scc_assign_local(edges: DataFrame) -> DataFrame:
    """Single-task exact SCC: iterative Tarjan over the full edge list
    inside one mapInPandas partition.  Sound only under
    _SCC_LOCAL_EDGE_CAP (the caller gates); emits the same
    (v, scc_id = min original member id) contract as the distributed
    path, so the two are interchangeable and cross-checked in tests."""
    import pandas as pd

    def run(batches):
        import numpy as np

        srcs, dsts = [], []
        for b in batches:
            srcs.append(b["src"].to_numpy(dtype=np.int64))
            dsts.append(b["dst"].to_numpy(dtype=np.int64))
        if not srcs:
            return
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        if len(src) == 0:
            return
        nodes = np.unique(np.concatenate([src, dst]))
        n = len(nodes)
        s = np.searchsorted(nodes, src)
        d = np.searchsorted(nodes, dst)
        order = np.argsort(s, kind="stable")
        s_sorted, d_sorted = s[order], d[order]
        starts = np.searchsorted(s_sorted, np.arange(n + 1))
        # Tarjan, explicit stack (recursion depth would be O(n)).
        UNSET = -1
        index = np.full(n, UNSET, dtype=np.int64)
        low = np.zeros(n, dtype=np.int64)
        on_stack = np.zeros(n, dtype=bool)
        comp = np.full(n, UNSET, dtype=np.int64)
        stack: list[int] = []
        next_index = 0
        n_comp = 0
        for root in range(n):
            if index[root] != UNSET:
                continue
            work = [(root, starts[root])]
            index[root] = low[root] = next_index
            next_index += 1
            stack.append(root)
            on_stack[root] = True
            while work:
                v, ptr = work[-1]
                if ptr < starts[v + 1]:
                    work[-1] = (v, ptr + 1)
                    w = int(d_sorted[ptr])
                    if index[w] == UNSET:
                        index[w] = low[w] = next_index
                        next_index += 1
                        stack.append(w)
                        on_stack[w] = True
                        work.append((w, int(starts[w])))
                    elif on_stack[w]:
                        if index[w] < low[v]:
                            low[v] = index[w]
                else:
                    work.pop()
                    if work:
                        u = work[-1][0]
                        if low[v] < low[u]:
                            low[u] = low[v]
                    if low[v] == index[v]:
                        while True:
                            w = stack.pop()
                            on_stack[w] = False
                            comp[w] = n_comp
                            if w == v:
                                break
                        n_comp += 1
        # scc_id = min ORIGINAL node id per component (oracle contract)
        comp_min = np.full(n_comp, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(comp_min, comp, nodes)
        yield pd.DataFrame({"v": nodes, "scc_id": comp_min[comp]})

    return edges.select("src", "dst").coalesce(1).mapInPandas(
        run, "v long, scc_id long"
    )


def _scc_assign_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The label/mark frames this build shuffles are O(|V|) rows; at the
    # session's full batch shuffle width every propagation round
    # pays parts-many near-empty tasks per stage (measured 2x wall at
    # sf0.01 with 32 vs 4).  Scale the width DOWN for small graphs only
    # (~8k edges per partition, floor 4) — big graphs keep the session
    # width, so the knob is scale-neutral — and restore it on exit.
    # The width is read as batch planning sees it, so a session that
    # never set BATCH_WIDTH_CONF scales from spark.sql.shuffle.partitions.
    sess_width = spark.conf.get(BATCH_WIDTH_CONF, None)
    try:
        edges_all = _scc_edges(spark, sf_dir)
        n_edges = edges_all.count()
        if n_edges <= _SCC_LOCAL_EDGE_CAP and not _SCC_FORCE_DISTRIBUTED:
            _SCC_LAST_STATS.clear()
            _SCC_LAST_STATS.update({"local_kernel": 1})
            return _scc_assign_local(edges_all)
        width = spark._jsparkSession.sessionState().conf().numShufflePartitions()
        parts = max(4, min(width, n_edges // 8192))
        spark.conf.set(BATCH_WIDTH_CONF, str(parts))
        return _scc_assign_build_inner(spark, sf_dir)
    finally:
        if sess_width is None:
            spark.conf.unset(BATCH_WIDTH_CONF)
        else:
            spark.conf.set(BATCH_WIDTH_CONF, sess_width)


def _scc_assign_build_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_setup = time.monotonic()
    edges_all = _scc_edges(spark, sf_dir)
    live = edges_all.select("src", "dst").transform(_ckpt_nostats)
    active = (
        live.select(F.col("src").alias("v"))
        .union(live.select(F.col("dst").alias("v")))
        .distinct()
        .transform(_ckpt_nostats)
    )
    n_active = active.count()
    n_initial = n_active
    stats: dict[str, float] = {
        "trim_batches": 0,
        "fwd_rounds": 0,
        "bwd_rounds": 0,
        "outer_passes": 0,
        "trim_sec": 0.0,
        "fwd_sec": 0.0,
        "bwd_sec": 0.0,
        "peel_sec": 0.0,
        "pool_sec": 0.0,
        "setup_sec": 0.0,
        "prep_sec": 0.0,
        "confirm_sec": 0.0,
    }
    assigned: list[DataFrame] = []
    stats["setup_sec"] = time.monotonic() - t_setup
    # Certified original-graph reachability pairs among live nodes.
    # Per-round DOUBLING only needs the CURRENT round's shortcuts
    # (lab(lab(v)) -> v composes through one union — pointer jumping);
    # the pool exists so LATER PASSES inherit long-range pairs whose
    # anchors (intermediate windowed minima) survive the peel.  Each
    # phase folds its per-round shortcut frames into `pool` ONCE
    # (dedup + checkpoint) so per-round plans stay constant-size —
    # unioning the history every round made Catalyst replanning the
    # dominant cost (measured 0.5-0.9 s/round at sf0.01).
    pool: DataFrame | None = None

    def prop_edges() -> DataFrame:
        return live if pool is None else live.unionByName(pool)

    def fold_pool(parts: list[DataFrame]) -> None:
        nonlocal pool
        if not parts:
            return
        t0 = time.monotonic()
        out = pool if pool is not None else parts[0]
        for p in parts if pool is not None else parts[1:]:
            out = out.unionByName(p)
        pool = out.distinct().transform(_ckpt_nostats)
        stats["pool_sec"] += time.monotonic() - t0

    def peel(dead_nodes: DataFrame) -> None:
        nonlocal active, live, pool
        t0 = time.monotonic()
        active = active.join(dead_nodes, "v", "left_anti").transform(_ckpt_nostats)
        live = (
            live.join(dead_nodes.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(dead_nodes.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .repartition("src")
            .transform(_ckpt_nostats)
        )
        if pool is not None:
            pool = (
                pool.join(
                    dead_nodes.withColumnRenamed("v", "src"), "src", "left_anti"
                )
                .join(dead_nodes.withColumnRenamed("v", "dst"), "dst", "left_anti")
                .transform(_ckpt_nostats)
            )
        stats["peel_sec"] += time.monotonic() - t0

    def trim_once() -> None:
        nonlocal n_active
        if n_active == 0:
            return
        t0 = time.monotonic()
        dead = _scc_trim_batch(active, live).transform(_ckpt_nostats)
        stats["trim_batches"] += 1
        n_dead = dead.count()
        stats["trim_sec"] += time.monotonic() - t0
        if n_dead:
            assigned.append(dead.select("v", F.col("v").alias("scc_id")))
            peel(dead)
            n_active -= n_dead

    # --- initial batched trim: clear the DAG fringe -----------------
    for _ in range(_SCC_TRIM_MAX_BATCHES):
        before = n_active
        trim_once()
        if n_active in (0, before):
            break

    while n_active > 0:
        stats["outer_passes"] += 1
        if stats["outer_passes"] > n_initial:
            raise RuntimeError(
                "scc outer loop exceeded the live-node bound "
                f"({n_initial}) — a pass failed to peel"
            )
        # --- forward min-hash coloring with shortcut doubling --------
        lab = active.select("v", _scc_hash_label("v").alias("lbl")).transform(_ckpt_nostats)
        fwd_parts: list[DataFrame] = []
        changed = -1
        for _ in range(_SCC_MAX_INNER):
            t0 = time.monotonic()
            stats["fwd_rounds"] += 1
            cur_sc = lab.select(
                F.col("lbl.i").alias("src"), F.col("v").alias("dst")
            ).filter(F.col("src") != F.col("dst"))
            # One union + one grouped agg per round (2 exchanges): the
            # self row carries the previous label, so the new label AND
            # the change flag fall out of the same aggregation — no
            # separate left-join back onto lab (stage-count discipline:
            # round cost here is scheduling floors, not rows).
            contrib = (
                prop_edges()
                .unionByName(cur_sc)
                .join(
                    lab.select(F.col("v").alias("src"), F.col("lbl").alias("slbl")),
                    "src",
                )
                .select(
                    F.col("dst").alias("v"),
                    F.col("slbl").alias("lbl"),
                    F.lit(False).alias("own"),
                )
            )
            merged = (
                lab.withColumn("own", F.lit(True))
                .unionByName(contrib)
                .groupBy("v")
                .agg(
                    F.min("lbl").alias("lbl"),
                    F.min(F.when(F.col("own"), F.col("lbl"))).alias("old"),
                )
            )
            new = merged.select(
                "v", "lbl", (F.col("lbl") < F.col("old")).alias("chg")
            ).transform(_ckpt_nostats)
            changed = new.filter("chg").count()
            lab = new.select("v", "lbl")
            fwd_parts.append(cur_sc)
            stats["fwd_sec"] += time.monotonic() - t0
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"scc forward coloring did not converge in {_SCC_MAX_INNER} "
                f"doubling rounds ({changed} labels still changing)"
            )
        fold_pool(fwd_parts)
        t_prep = time.monotonic()
        # --- backward confirm: min-propagate (hash, id) structs over
        # color-guarded reach pairs, with the same shortcut doubling.
        # m(v) = min struct among same-class nodes v reaches; v is
        # confirmed iff m(v) == lbl(v): "f(v)=c and v ->* c" is exactly
        # membership in SCC(c) (c ->* v by coloring, v ->* c by m —
        # mutual, and any such path's intermediates are inside the SCC).
        same_color = (
            prop_edges()
            .unionByName(
                lab.select(F.col("lbl.i").alias("src"), F.col("v").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .join(
                lab.select(F.col("v").alias("src"), F.col("lbl").alias("sl")),
                "src",
            )
            .join(
                lab.select(F.col("v").alias("dst"), F.col("lbl").alias("dl")),
                "dst",
            )
            .filter(F.col("sl") == F.col("dl"))
            .select("src", "dst")
            .distinct()
            .repartition("dst")
            .transform(_ckpt_nostats)
        )
        mfr = active.select("v", _scc_hash_label("v").alias("m")).transform(_ckpt_nostats)
        stats["prep_sec"] += time.monotonic() - t_prep
        bwd_parts: list[DataFrame] = []
        changed = -1
        for _ in range(_SCC_MAX_INNER):
            t0 = time.monotonic()
            stats["bwd_rounds"] += 1
            m_sc = mfr.select(
                F.col("v").alias("src"), F.col("m.i").alias("dst")
            ).filter(F.col("src") != F.col("dst"))
            contrib = (
                same_color.unionByName(m_sc)
                .join(
                    mfr.select(F.col("v").alias("dst"), F.col("m").alias("dm")),
                    "dst",
                )
                .select(
                    F.col("src").alias("v"),
                    F.col("dm").alias("m"),
                    F.lit(False).alias("own"),
                )
            )
            merged = (
                mfr.withColumn("own", F.lit(True))
                .unionByName(contrib)
                .groupBy("v")
                .agg(
                    F.min("m").alias("m"),
                    F.min(F.when(F.col("own"), F.col("m"))).alias("old"),
                )
            )
            new = merged.select(
                "v", "m", (F.col("m") < F.col("old")).alias("chg")
            ).transform(_ckpt_nostats)
            changed = new.filter("chg").count()
            mfr = new.select("v", "m")
            bwd_parts.append(m_sc)
            stats["bwd_sec"] += time.monotonic() - t0
            if changed == 0:
                break
        if changed != 0:
            raise RuntimeError(
                f"scc backward confirm did not converge in {_SCC_MAX_INNER} "
                f"doubling rounds"
            )
        # m-shortcuts are color-matched reach pairs — pool them too.
        fold_pool(bwd_parts)
        t_confirm = time.monotonic()
        confirmed = (
            lab.join(mfr, "v")
            .filter(F.col("m") == F.col("lbl"))
            .select("v", F.col("lbl.i").alias("root"))
            .transform(_ckpt_nostats)
        )
        n_peel = confirmed.count()
        if n_peel == 0:
            raise RuntimeError(
                "scc pass confirmed nothing — the global min-hash node "
                "must always confirm"
            )
        # scc_id = MIN ORIGINAL id per component (hash order is the
        # pivot order, never the output id — the oracle takes MIN(id)).
        groups = confirmed.groupBy("root").agg(F.min("v").alias("scc_id"))
        assigned.append(confirmed.join(groups, "root").select("v", "scc_id"))
        stats["confirm_sec"] += time.monotonic() - t_confirm
        peel(confirmed.select("v"))
        n_active -= n_peel
        # one cheap batched trim per pass: peeling SCCs exposes fresh
        # DAG fringe (the nodes that pointed into / out of them).
        trim_once()

    _SCC_LAST_STATS.clear()
    _SCC_LAST_STATS.update(stats)
    if not assigned:  # empty input: no edges -> no nodes -> no SCCs
        return spark.createDataFrame([], "v long, scc_id long")
    out = assigned[0]
    for frame in assigned[1:]:
        out = out.unionAll(frame)
    return out


def _condensation_levels_local(comps: DataFrame, cedge: DataFrame) -> DataFrame:
    """Single-task longest-path levels over the condensation DAG —
    Kahn-order DP, gated by _SCC_LOCAL_EDGE_CAP like `_scc_assign_local`
    (same contract as the distributed max-label loop; a cycle, which
    the SCC quotient makes impossible, surfaces as a RuntimeError)."""
    import pandas as pd

    tagged = comps.select(
        F.col("c").alias("u"), F.lit(None).cast("long").alias("w")
    ).unionByName(cedge.select("u", "w"))

    def run(batches):
        from collections import defaultdict, deque as _dq

        adj = defaultdict(list)
        indeg = defaultdict(int)
        nodes = set()
        for b in batches:
            for u, w in zip(b["u"], b["w"]):
                u = int(u)
                nodes.add(u)
                if pd.isna(w):
                    continue
                w = int(w)
                nodes.add(w)
                adj[u].append(w)
                indeg[w] += 1
        level = {v: 0 for v in nodes}
        ready = _dq(v for v in nodes if indeg[v] == 0)
        seen = 0
        while ready:
            u = ready.popleft()
            seen += 1
            for w in adj[u]:
                if level[u] + 1 > level[w]:
                    level[w] = level[u] + 1
                indeg[w] -= 1
                if indeg[w] == 0:
                    ready.append(w)
        if seen != len(nodes):
            raise RuntimeError(
                "condensation contains a cycle — the SCC quotient is broken"
            )
        yield pd.DataFrame(
            {"c": list(level), "l": [level[v] for v in level]}
        ).astype({"c": "int64", "l": "int64"})

    return tagged.coalesce(1).mapInPandas(run, "c long, l long")


@register(
    "q_graph_condensation",
    oracle=f"""
    WITH RECURSIVE e AS (
      {_SCC_EDGE_SQL}
    ), nodes AS (
      SELECT src AS id FROM e UNION SELECT dst FROM e
    ), reach(a, b) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
    ), scc AS (
      SELECT f.a AS node_id, MIN(f.b) AS scc
      FROM reach f JOIN reach r ON f.a = r.b AND f.b = r.a
      GROUP BY f.a
    ), cedge AS (
      SELECT DISTINCT s1.scc AS u, s2.scc AS v
      FROM e
      JOIN scc s1 ON s1.node_id = e.src
      JOIN scc s2 ON s2.node_id = e.dst
      WHERE s1.scc <> s2.scc
    ), lvl(v, l) AS (
      SELECT DISTINCT scc AS v, 0 AS l FROM scc
      UNION
      SELECT c.v, lvl.l + 1 FROM lvl JOIN cedge c ON c.u = lvl.v
    ), depth AS (
      SELECT v, MAX(l) AS level FROM lvl GROUP BY v
    )
    SELECT CAST(s.scc AS BIGINT) AS scc_id,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(d.level AS BIGINT) AS level
    FROM scc s JOIN depth d ON d.v = s.scc
    GROUP BY s.scc, d.level
    """,
)
def q_graph_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation of the directed transition graph: contract each SCC
    (q_graph_scc's assignment, shared machinery) to one node, then
    compute every component's LONGEST-PATH LEVEL in the resulting DAG —
    the dependency-layering analytic (build stages, pipeline scheduling,
    data-lineage depth): level-0 components have no upstream, level k
    depends on something at k-1, and components on the same level can
    run concurrently.

    The level loop is max-label propagation over the condensation edges
    to a CHECKED fixpoint; a non-converging loop inside the cap would
    mean a cycle in the condensation — impossible if the SCC quotient
    is correct — so the convergence raise doubles as a structural
    invariant check on the SCC stage. The oracle extends the closure
    oracle with a recursive level CTE (UNION-deduped, so path
    multiplicity can't blow up the recursion; levels strictly increase
    along DAG edges, so it terminates at the longest path).

    Scale: the condensation is tiny relative to the graph (one row per
    SCC); the only corpus-scale work is the SCC assignment itself
    (shared, cached) and the two label joins mapping node endpoints to
    component ids. The LEVEL computation dispatches like the SCC stage
    (round 10): under _SCC_LOCAL_EDGE_CAP condensation edges, a single
    mapInPandas task runs Kahn-order longest-path DP (O(V+E), zero
    propagation rounds — a deep condensation chain would otherwise pay
    one round per layer); above it, max-label propagation to a CHECKED
    fixpoint with _ckpt_nostats per round (Dataset.localCheckpoint
    snapshots estimated stats, and the round plan's double reference
    to lvl would otherwise square sizeInBytes every round — the
    BigInteger pathology documented on _ckpt_nostats). A
    non-converging distributed loop inside the cap would mean a cycle
    in the condensation — impossible if the SCC quotient is correct —
    so the convergence raise doubles as a structural invariant check.
    """
    assigned = _scc_assignments(spark, sf_dir).localCheckpoint()
    edges = _scc_edges(spark, sf_dir)
    cedge = (
        edges.join(
            assigned.select(F.col("v").alias("src"), F.col("scc_id").alias("u")),
            "src",
        )
        .join(
            assigned.select(F.col("v").alias("dst"), F.col("scc_id").alias("w")),
            "dst",
        )
        .filter(F.col("u") != F.col("w"))
        .select("u", "w")
        .distinct()
        .repartition("u")
        .localCheckpoint()
    )
    comps = assigned.select(F.col("scc_id").alias("c")).distinct()
    n_cedge = cedge.count()
    if n_cedge <= _SCC_LOCAL_EDGE_CAP and not _SCC_FORCE_DISTRIBUTED:
        lvl = _condensation_levels_local(comps, cedge)
    else:
        lvl = (
            comps.select("c", F.lit(0).cast("long").alias("l"))
            .transform(_ckpt_nostats)
        )
        # Cycle detection vs depth exhaustion (ADVICE r10): a level can
        # only reach n_comps if some path repeats a component — i.e. a
        # true cycle survived the SCC contraction.  An acyclic DAG merely
        # DEEPER than the round cap must raise a depth-specific error,
        # not the cycle-invariant message (single-hop propagation does
        # one layer per round; the ~2^72 claim on _SCC_MAX_INNER holds
        # only for the doubling loops).
        n_comps = comps.count()
        changed = 0
        for _ in range(_SCC_MAX_INNER):
            nl = (
                cedge.join(lvl.select(F.col("c").alias("u"), "l"), "u")
                .groupBy(F.col("w").alias("c"))
                .agg(F.max(F.col("l") + F.lit(1).cast("long")).alias("m"))
            )
            new = (
                lvl.join(nl, "c", "left")
                .select(
                    "c",
                    F.greatest("l", F.coalesce("m", F.col("l"))).alias("l"),
                    (
                        F.coalesce("m", F.lit(-1).cast("long")) > F.col("l")
                    ).alias("chg"),
                )
                .transform(_ckpt_nostats)
            )
            stats = new.agg(
                F.sum(F.col("chg").cast("long")).alias("n_chg"),
                F.max("l").alias("max_l"),
            ).first()
            changed = stats.n_chg or 0
            if stats.max_l is not None and stats.max_l >= n_comps:
                raise RuntimeError(
                    f"condensation level {stats.max_l} reached the component "
                    f"count {n_comps} — a cycle survived the SCC contraction"
                )
            lvl = new.select("c", "l")
            if changed == 0:
                break
        if changed != 0:
            # Round-cap exhaustion is AMBIGUOUS when n_comps > the cap:
            # levels grow one per round, so the max_l >= n_comps cycle
            # invariant above can only have fired for condensations with
            # <= _SCC_MAX_INNER components — a surviving cycle in a
            # larger condensation lands HERE instead (round-12 ADVICE:
            # don't coach the operator into raising caps against a real
            # cycle). Distinguish the two scale-independently: on a DAG
            # every component's level is FINAL once no in-neighbor
            # changed, so total changes across rounds are bounded by
            # n_comps; a cycle keeps re-raising levels forever.
            if stats.max_l is not None and stats.max_l >= _SCC_MAX_INNER:
                hint = (
                    "this is EITHER a condensation deeper than the cap OR "
                    "a cycle that survived the SCC contraction (a cycle "
                    "re-raises levels every round and always exhausts the "
                    "cap when the component count exceeds it); verify "
                    "acyclicity before raising any cap"
                )
            else:
                hint = "the level front stalled below the cap"
            raise RuntimeError(
                f"condensation level loop exhausted {_SCC_MAX_INNER} "
                f"rounds with {changed} labels still changing — {hint}; "
                "caps: ws_to_kafka_spark.operators.graph._SCC_MAX_INNER, "
                "_SCC_LOCAL_EDGE_CAP (the local Kahn kernel is "
                "depth-independent and detects cycles exactly)"
            )
    sizes = assigned.groupBy("scc_id").agg(F.count("*").alias("n_nodes"))
    return sizes.join(
        lvl.select(F.col("c").alias("scc_id"), F.col("l").alias("level")),
        "scc_id",
    )
