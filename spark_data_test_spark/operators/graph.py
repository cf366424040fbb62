"""Distributed graph analytics over the co-purchase graph (extensions).

The graph: parts are vertices; an undirected edge connects two parts
that appear in at least one common order (derived from the distinct
(l_orderkey, l_partkey) pairs of ``lineitem``). This is the standard
"co-occurrence projection" of a bipartite relation — the market-basket
graph behind ``orders_market_basket``, and the same shape as the
doc-shares-shingle graphs the dedup module clusters. The part<-order
direction is chosen deliberately: baskets are small (a handful of
lineitems), so the per-basket self-join fans out quadratically only in
basket size, and the projected graph stays SPARSE at every scale
factor (measured: avg degree ~120, max ~220 at both sf0.01 and sf0.1)
— projecting the small side (suppliers via shared parts) instead
yields a near-complete graph whose wedge count grows as C(n,3).

Triangle counting uses the degree-ordered orientation (the
"compact-forward" algorithm): every undirected edge is directed from
the endpoint with the smaller (degree, id) to the larger, so each
out-adjacency list is bounded by O(sqrt(E)) even on power-law graphs,
wedge enumeration — the quadratic step — fans out from the LOW-degree
endpoint only, and every triangle is counted exactly once. That is the
difference between a plan that survives a hub vertex at 100 TB and one
that explodes: naive u<v orientation puts all wedges of a hub on its
adjacency, degree orientation caps them.

Shapes: bipartite projection is a per-order self-join (fan-out
bounded by max parts-per-order — quadratic in the hottest basket, the
known cost of co-occurrence projections; cap or sample hot baskets
upstream when the bipartite side is skewed). Wedge closure is a single
hash-shuffle equi-join of the wedge list against the oriented edge
list. Everything is exact integer arithmetic; the one double (the
global clustering coefficient) is a single IEEE division of identical
integers in both engines.
"""

import pyspark.sql.functions as F

from spark_data_test_spark.operators.relational import query, t
from spark_data_test_spark.utils.spark_utils import FrameCache, bucket_pairs

# Every graph query starts from the same projected edge list; memoize
# it per (session, sf_dir) like the dedup pipeline caches its shingles
# — the projection self-join runs once per session, not per query.
_EDGES_CACHE = FrameCache(max_entries=2)


# Shared SQL CTE prefix: distinct bipartite pairs -> undirected edges.
_EDGES_SQL = """
    pairs AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.pk < b.pk)
"""


def _edges(spark, sf_dir):
    """Undirected co-purchase edge list (u < v, distinct), memoized and
    persisted per (session, sf_dir).

    Each order's distinct parts expand to pairs in-task
    (`bucket_pairs` with ``cap=None``): a TPC-H order holds <= 7 line
    items, so the basket bounds every bucket — cap or sample hot
    baskets upstream when the bipartite side is skewed, as the module
    docstring directs. The only shuffles are the basket aggregate and
    the final edge distinct."""

    def build():
        li = t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        return (
            bucket_pairs(li, ("ok",), "pk", None, out_a="u", out_b="v")
            .distinct()
            .persist()
        )

    return _EDGES_CACHE.get_or_create(
        (spark.sparkContext.applicationId, sf_dir), build
    )


@query(
    "graph_degree_distribution",
    f"""
    WITH {_EDGES_SQL},
    degrees AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges)
      GROUP BY node)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM degrees GROUP BY degree
    """,
)
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram of the co-purchase graph — the first diagnostic a
    pipeline runs on any derived graph (a heavy tail here predicts skew
    in every downstream self-join). Shape: edge list -> symmetrize via
    union -> two map-side-combinable aggregates; output is bounded by
    the number of distinct degrees."""
    e = _edges(spark, sf_dir)
    nodes = e.select(F.col("u").alias("node")).unionAll(
        e.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))




def triangle_count(edges):
    """Library operator: exact triangle count + global clustering
    coefficient over an arbitrary undirected edge frame with columns
    (u, v), u < v, distinct. Degree-ordered EDGE-ITERATOR closure:
    orient every edge from the smaller (degree, id) endpoint, build
    each node's out-adjacency array (bounded O(sqrt E) by the
    orientation, see module docstring), and count per oriented edge
    (s, d) the common out-neighbors |N+(s) ∩ N+(d)| — every triangle
    {a < b < c in the order} is counted exactly once, at edge (a, b)
    with witness c. Algebraically identical to the wedge-join
    formulation (and to the SQL oracle, which still runs it), but the
    quadratic intermediate NEVER materializes: the wedge join shuffled
    one row per wedge (35M rows at sf0.1 — measured 8.9 s even with
    edges cached) where this shape joins the edge list twice against
    the adjacency frame (one row per NODE) and intersects in-task —
    measured 4x faster at sf0.1. At this SF the adjacency frame
    broadcasts; at cluster scale the same two joins hash-partition on
    src/dst (AQE picks; no hint pinned) and per-task memory stays
    bounded by the O(sqrt E) array length, which is exactly what the
    orientation is for. Returns a one-row DataFrame (n_nodes, n_edges,
    n_wedges, n_triangles, clustering_coefficient)."""
    nodes = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))

    ed = (
        edges.join(F.broadcast(deg.withColumnRenamed("node", "u")
                               .withColumnRenamed("degree", "du")), "u")
        .join(F.broadcast(deg.withColumnRenamed("node", "v")
                          .withColumnRenamed("degree", "dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented feeds TWO consumers (the adjacency build and the closure
    # join's probe side) and adj feeds two more (both intersect sides);
    # unpersisted, each consumer re-ran the orientation join and the
    # collect_set respectively — measured 7.0 s -> 4.4 s at sf0.1 (min
    # of two, memos cleared) with both persisted.
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).persist()
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("nbrs")).persist()
    try:
        tri = (
            oriented.join(
                adj.select(F.col("src").alias("s2"), F.col("nbrs").alias("ns")),
                F.col("src") == F.col("s2"),
            )
            .join(
                adj.select(F.col("src").alias("d2"), F.col("nbrs").alias("nd")),
                F.col("dst") == F.col("d2"),
                "left",  # a sink node has no out-list: contributes 0
            )
            .select(
                F.when(
                    F.col("nd").isNotNull(),
                    F.size(F.array_intersect("ns", "nd")),
                )
                .otherwise(0)
                .cast("long")
                .alias("c")
            )
            # coalesce: sum() over an empty edge frame is NULL, but the
            # library surface documents 0 triangles for an empty graph
            .agg(F.coalesce(F.sum("c"), F.lit(0).cast("long")).alias("n_triangles"))
        )

        summary = (
            deg.agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.coalesce(
                    F.sum(
                        (F.col("degree") * (F.col("degree") - 1)).cast("long") / 2
                    ).cast("long"),
                    F.lit(0).cast("long"),
                ).alias("n_wedges"),
            )
            .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
            .crossJoin(F.broadcast(tri))
        )
        # eager one-row checkpoint: the caches above are released before
        # the (lazy) caller ever executes the frame
        return summary.select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # try_divide: a wedge-free graph has an UNDEFINED clustering
            # coefficient — NULL, not an ANSI divide-by-zero error
            F.try_divide(
                (3 * F.col("n_triangles")).cast("double"),
                F.col("n_wedges").cast("double"),
            ).alias("clustering_coefficient"),
        ).localCheckpoint(eager=True)
    finally:
        oriented.unpersist()
        adj.unpersist()


@query(
    "graph_triangle_count",
    f"""
    WITH {_EDGES_SQL},
    degrees AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v AS node FROM edges)
      GROUP BY node),
    oriented AS (
      -- direct each edge from the smaller (degree, id) endpoint
      SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                  THEN e.v ELSE e.u END AS dst
      FROM edges e
      JOIN degrees du ON du.node = e.u
      JOIN degrees dv ON dv.node = e.v),
    wedges AS (
      SELECT a.dst AS v, b.dst AS w
      FROM oriented a JOIN oriented b
        ON a.src = b.src AND (a.dst < b.dst)),
    tri AS (
      -- normalized (min, max) pair: keeps the closure hash-joinable
      SELECT COUNT(*) AS n_triangles
      FROM wedges x
      JOIN oriented o
        ON least(x.v, x.w) = least(o.src, o.dst)
       AND greatest(x.v, x.w) = greatest(o.src, o.dst)),
    summary AS (
      SELECT (SELECT COUNT(*) FROM degrees) AS n_nodes,
             (SELECT COUNT(*) FROM edges) AS n_edges,
             (SELECT CAST(SUM(degree * (degree - 1) / 2) AS BIGINT)
              FROM degrees) AS n_wedges,
             (SELECT n_triangles FROM tri) AS n_triangles)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
             AS clustering_coefficient
    FROM summary
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Exact triangle count + global clustering coefficient via
    degree-ordered wedge closure (see module docstring for why the
    orientation, not the join, is what makes this scale).

    Plan: degrees ride a broadcast join back onto the edge list (the
    degree table is |V| rows — broadcast-size even at 100 TB edge
    scale); wedge enumeration is one self-equi-join on the oriented
    source; closure is one hash join of wedges against oriented edges.
    The closure probes with the UNORIENTED pair (either direction), so
    the wedge->edge join condition is a disjunction of two equi-pairs —
    expressed as an equi-join on the normalized (min, max) pair to stay
    a hash join, never a nested loop. Delegates to the exported
    `triangle_count` library operator over the co-purchase edges."""
    return triangle_count(_edges(spark, sf_dir))



def connected_components(labels, edges):
    """Library operator: BSP min-label propagation (the GraphX/Pregel
    connected-components formulation in plain DataFrames). ``labels``
    is the initial (gid, component_id) seeding — vertex id itself for
    the plain algorithm, or any domain seed (the dedup pipeline seeds
    text groups with their minimum member doc id). ``edges`` is a
    DIRECTED (a, b) pair list — pass both directions for an undirected
    graph. Each round every vertex takes the min of its own and its
    neighbors' labels; rounds are bounded by the component diameter,
    and ``localCheckpoint`` truncates the per-round lineage (without
    it round N re-analyzes rounds 1..N-1 on the driver). Returns the
    converged (gid, component_id) frame. The caller should persist
    ``edges``: every round joins against it.

    CONTRACT: ``labels`` must cover every edge endpoint — the
    convergence check compares against the seeded vertex set, so an
    endpoint missing from the seed would silently keep no label and
    could end the loop early. Enforced with one anti-join probe up
    front (cheap next to the per-round convergence counts), because a
    generic re-seed is impossible: the component id domain (the dedup
    caller labels md5-string groups with LONG doc ids) is the
    caller's, not ours."""
    endpoints = edges.select(F.col("a").alias("gid")).unionAll(
        edges.select(F.col("b").alias("gid"))
    )
    unseeded = endpoints.join(labels, "gid", "left_anti").limit(1).count()
    if unseeded:
        raise ValueError(
            "connected_components: edges reference vertices absent from "
            "the labels seed; seed every endpoint"
        )
    labels = labels.localCheckpoint(eager=True)
    while True:
        # pull phase: each vertex takes the min of its own label and
        # every neighbor's label
        neighbor_labels = (
            edges.join(labels, edges.b == labels.gid)
            .select(F.col("a").alias("gid"), "component_id")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("gid")
            .agg(F.min("component_id").alias("component_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "gid")
            .where(F.col("n.component_id") != F.col("o.component_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


_PR_ROUNDS = 3
_PR_SCALE = 1_000_000  # micro-rank fixed point
_PR_DAMP_NUM, _PR_DAMP_DEN = 850, 1000  # damping 0.85 as a ratio


def _pr_round_sql(prev):
    return f"""(
      SELECT s.dst AS node,
             CAST({_PR_SCALE - _PR_SCALE * _PR_DAMP_NUM // _PR_DAMP_DEN}
                  + ({_PR_DAMP_NUM} * SUM(r.r // o.od)) // {_PR_DAMP_DEN}
                  AS BIGINT) AS r
      FROM sym s
      JOIN {prev} r ON r.node = s.src
      JOIN outdeg o ON o.src = s.src
      GROUP BY s.dst)"""


@query(
    "graph_pagerank_fixed",
    f"""
    WITH {_EDGES_SQL},
    sym AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL
      SELECT v AS src, u AS dst FROM edges),
    outdeg AS (SELECT src, COUNT(*) AS od FROM sym GROUP BY src),
    r0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS r FROM outdeg),
    r1 AS {_pr_round_sql("r0")},
    r2 AS {_pr_round_sql("r1")},
    r3 AS {_pr_round_sql("r2")}
    SELECT node, r AS rank_micro FROM r{_PR_ROUNDS}
    """,
)
def graph_pagerank_fixed(spark, sf_dir):
    """PageRank over the co-purchase graph, {_PR_ROUNDS} synchronous
    power-iteration rounds in FIXED-POINT integer arithmetic: ranks are
    micro-units (1.0 == {_PR_SCALE}), each edge carries
    ``rank div out_degree``, and damping 0.85 is the exact ratio
    {_PR_DAMP_NUM}/{_PR_DAMP_DEN} applied with integer division. Floats
    never appear, so the result is bit-identical on any engine and
    any partitioning/summation order — the property that makes an
    iterative algorithm oracle-checkable at all (float PageRank differs
    run-to-run on a cluster; fixed-point doesn't). Truncation error is
    bounded by in-degree micro-units per round — noise at rank scale.

    Shape per round: one shuffle (edge join on src rides the same hash
    partitioning every round, so AQE reuses the exchange; the per-dst
    aggregate combines map-side). ``localCheckpoint`` truncates lineage
    between rounds — without it round N's plan re-derives rounds
    1..N-1 and analysis cost compounds. Rounds are a fixed constant:
    power iteration converges geometrically, and a pipeline runs a
    fixed budget, not to convergence. The symmetric graph has no
    dangling nodes (every vertex has out-degree >= 1 by construction),
    so no dangling-mass redistribution term is needed. Delegates to
    the exported `pagerank_fixed` library operator."""
    return pagerank_fixed(_edges(spark, sf_dir))


def pagerank_fixed(edges, rounds=_PR_ROUNDS, damping=(_PR_DAMP_NUM, _PR_DAMP_DEN),
                   scale=_PR_SCALE):
    """Library operator: fixed-point integer PageRank over an arbitrary
    undirected edge frame with columns (u, v). Returns (node,
    rank_micro) after ``rounds`` synchronous power-iteration rounds;
    bit-deterministic under any partitioning (see the query docstring).
    ``damping`` is an exact integer ratio; ``scale`` the fixed-point
    unit."""
    damp_num, damp_den = damping
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    outdeg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    base = scale - scale * damp_num // damp_den
    ranks = outdeg.select(
        F.col("src").alias("node"), F.lit(scale).cast("long").alias("r")
    ).localCheckpoint(eager=False)
    # The (src, dst, od) contribution edges are consumed by EVERY round's
    # join: persist them PRE-HASHED on the join key so the cached blocks
    # carry hash(src) partitioning (InMemoryRelation preserves its
    # child's outputPartitioning) and each round's join exchanges only
    # the (node-sized) rank side, never the edge side — the partitioning
    # reuse the query docstring promises, made explicit. Measured at
    # sf0.1: 4.9 s unpersisted -> 3.7 s (min of two, memos cleared).
    contrib_src = sym.join(outdeg, "src").repartition(F.col("src")).persist()
    try:
        for _ in range(rounds):
            ranks = (
                contrib_src.join(ranks, contrib_src.src == ranks.node)
                .select(
                    F.col("dst"),
                    F.expr("r div od").alias("contrib"),
                )
                .groupBy("dst")
                .agg(
                    (
                        F.lit(base)
                        + F.expr(f"({damp_num} * sum(contrib)) div {damp_den}")
                    )
                    .cast("long")
                    .alias("r")
                )
                .select(F.col("dst").alias("node"), "r")
                .localCheckpoint(eager=False)
            )
        # eager final checkpoint: materializes the rounds while
        # contrib_src is still cached, and lets the edge cache be
        # released before returning (node-sized result, edge-sized cache)
        return ranks.select(
            "node", F.col("r").alias("rank_micro")
        ).localCheckpoint(eager=True)
    finally:
        contrib_src.unpersist()
