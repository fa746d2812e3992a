"""Distributed graph operators expressed as relational plans.

The reference could encode a graph algorithm only as repeated whole jobs
(one map→reduce per iteration, reference mincemeat.py:294-297 — its FAQ
answer to iteration is "run the server again").  Here each iteration is
a join+aggregate Catalyst plan, and the iterative driver loop is plain
Python over DataFrames (see also text.dedup.dedup_clusters for the
connected-components loop).

Graphs are derived from the fixture, not synthesized: PageRank runs on
the customer→supplier purchase graph (who buys from whom, via
orders⋈lineitem), triangles on the part co-purchase graph (parts that
appear in the same order).

Every query is a short caller of one kit, named after the MapReduce
phase each piece plays in a superstep:

* map — the edge lists: ``_purchases``/``_purchase_edges`` (int64 node
  keys, customers 2k and suppliers 2k+1, decoded by ``_node_key``) and
  ``_copurchase_edges`` (part pairs u < v);
* combine — ``_symmetrize`` (e ∪ reverse(e)), ``_degree`` (the per-node
  count or weight sum) and ``_triangles`` (the two-self-join count);
* shuffle + reduce — ``_pagerank_step`` (integer contributions
  aggregated on dst, with an optional dangling-mass redistribution),
  ``_pagerank`` (its loop) and ``_hits_half`` (one normalized HITS
  half-step), which ``text.html_extract`` reuses on the host graph.

The ``*_sql`` twins spell the same pieces for the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from mincemeatpy_spark.lineage import truncate_eager, truncate_lazy
from mincemeatpy_spark.registry import register
from mincemeatpy_spark.tables import t

# Fixed-point PageRank scale: ranks are integers in units of 1e-12.
_PR_SCALE = 10**12

# BFS frontiers at or under this row count broadcast to the edge join;
# larger frontiers fall back to a shuffle join on the node key.
_BFS_BROADCAST_MAX_ROWS = 2_000_000


# --- map: edge lists ----------------------------------------------------


def _cust_node(key: str) -> Column:
    """Node key of a customer key: 2k (int64, SCALE rule 5)."""
    return (F.col(key) * 2).cast("bigint")


def _supp_node(key: str) -> Column:
    """Node key of a supplier key: 2k + 1."""
    return (F.col(key) * 2 + 1).cast("bigint")


def _node_key(node: str = "node") -> Column:
    """The customer or supplier key of a node key (``node % 2`` tells
    which side)."""
    return F.shiftright(node, 1)


def _purchases(
    spark: SparkSession, sf_dir: str, min_qty: int | None = None
) -> DataFrame:
    """Every purchase (one row per lineitem) as ``(u, v, l_quantity)``:
    customer node u bought from supplier node v.  ``min_qty`` keeps only
    lineitems of at least that quantity (the sparsified graph)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    if min_qty is not None:
        li = li.filter(F.col("l_quantity") >= min_qty)
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        _cust_node("o_custkey").alias("u"),
        _supp_node("l_suppkey").alias("v"),
        "l_quantity",
    )


def _purchase_edges(
    spark: SparkSession, sf_dir: str, min_qty: int | None = None
) -> DataFrame:
    """Distinct customer→supplier edges ``(u, v)`` in node keys."""
    return _purchases(spark, sf_dir, min_qty).select("u", "v").distinct()


def _purchase_edges_sql(min_qty: int | None = None) -> str:
    """SQL twin of ``_purchase_edges``."""
    where = "" if min_qty is None else f"WHERE l.l_quantity >= {min_qty}"
    return f"""
        SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        {where}"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase edges ``(u, v)``, u < v: parts below 800 that
    share an order, each undirected edge once."""
    a = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 800)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    x, y = a.alias("x"), a.alias("y")
    return (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v"))
        .distinct()
    )


# SQL twin of _copurchase_edges: the CTEs ``a`` and ``e``.
_COPURCHASE_SQL = """
        a AS (SELECT DISTINCT l_orderkey, l_partkey
              FROM lineitem WHERE l_partkey < 800),
        e AS (SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
              FROM a x JOIN a y ON x.l_orderkey = y.l_orderkey
                                AND x.l_partkey < y.l_partkey)"""


# --- combine: symmetrize, degree, triangles -----------------------------


def _symmetrize(e: DataFrame, *carry: str) -> DataFrame:
    """``e ∪ reverse(e)`` over ``(u, v, *carry)``.  No distinct: every
    caller's edge list is distinct with no edge in both directions
    (bipartite, or oriented one way), so a dedup would be a pure extra
    shuffle."""
    return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"), *carry))


def _sym_sql(carry: str = "") -> str:
    """SQL twin of ``_symmetrize``: the CTE ``sym`` over the CTE ``e``."""
    return f"sym AS (SELECT u, v{carry} FROM e UNION ALL SELECT v, u{carry} FROM e)"


# SQL twin of _degree over ``sym``: the CTE ``deg (node, d)``.
_DEG_SQL = "deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u)"


def _degree(e: DataFrame, key: str = "u", weight: str | None = None) -> DataFrame:
    """``(key, d)``: per-node edge count, or the sum of ``weight``."""
    d = F.count(F.lit(1)) if weight is None else F.sum(weight)
    return e.groupBy(key).agg(d.alias("d"))


def _triangles(e: DataFrame) -> DataFrame:
    """1-row ``n_triangles`` of an edge list canonicalized u < v: each
    triangle u < v < w counted once by two self-joins."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# SQL twin of _triangles over the CTE ``e``.
_TRIANGLES_SQL = """
            SELECT count(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v"""


# --- shuffle + reduce: integer PageRank and HITS supersteps -------------


def _contrib(edges: DataFrame, outw: DataFrame, ranks: DataFrame) -> DataFrame:
    """``(src, dst, c)``: the rank share each edge carries, c = r(src) *
    w // outw(src), over edges ``(src, dst, w)``, out-weights ``(src,
    d)`` and ranks ``(node, r)``."""
    return (
        edges.join(outw, "src")
        .join(ranks, ranks.node == F.col("src"))
        .select("src", "dst", F.expr("(r * w) div d").alias("c"))
    )


def _pagerank_step(
    edges: DataFrame,
    outw: DataFrame,
    nodes: DataFrame,
    nb: DataFrame,
    ranks: DataFrame,
    dangling: bool,
) -> DataFrame:
    """One integer PageRank superstep (damping 0.85, floor division) to
    new ranks ``(node, r)`` over every node of ``nodes``.  ``nb`` is the
    1-row ``n_nodes``.  With ``dangling``, the rank held by nodes with
    no out-edges is spread evenly over all nodes, so mass is conserved
    up to floor-division slack; without it that mass leaves the graph."""
    inflow = _contrib(edges, outw, ranks).groupBy("dst").agg(F.sum("c").alias("s"))
    nxt = nodes.join(inflow, nodes.node == inflow.dst, "left").crossJoin(nb)
    share = "coalesce(s, 0)"
    if dangling:
        # 1-row broadcast: the anti-join is node-scale, never edge-scale.
        nxt = nxt.crossJoin(
            F.broadcast(
                ranks.join(outw, ranks.node == outw.src, "left_anti").agg(
                    F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("dang")
                )
            )
        )
        share += " + (dang div n_nodes)"
    return nxt.select(
        "node",
        F.expr(
            f"15 * ({_PR_SCALE} div n_nodes) div 100 + 85 * ({share}) div 100"
        )
        .cast("bigint")
        .alias("r"),
    )


def _pagerank(
    edges: DataFrame, outw: DataFrame, nodes: DataFrame, iters: int, dangling: bool
) -> DataFrame:
    """``iters`` PageRank supersteps from the uniform rank, lineage
    truncated eagerly after each.  The node count rides in-plan as a
    broadcast 1-row aggregate: no driver-side count job."""
    nb = F.broadcast(nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
    ranks = nodes.crossJoin(nb).select(
        "node", F.expr(f"cast({_PR_SCALE} div n_nodes as bigint)").alias("r")
    )
    for _ in range(iters):
        ranks = _pagerank_step(edges, outw, nodes, nb, ranks, dangling).transform(
            truncate_eager
        )
    return ranks


def _hits_half(
    edges: DataFrame, nodes: DataFrame, score: DataFrame, frm: str, to: str
) -> DataFrame:
    """One HITS half-step: each node's new score ``(node, v)`` sums
    score(frm) * w over its edges arriving on the ``to`` side, L1-
    normalized to _PR_SCALE by dividing by the total first (x // max(
    total // SCALE, 1)): x * SCALE would overflow int64."""
    raw = (
        edges.join(score.withColumnRenamed("node", "k"), F.col("k") == F.col(frm))
        .select(F.col(to).alias("t"), F.expr("v * w").alias("x"))
        .groupBy("t")
        .agg(F.sum("x").alias("s"))
    )
    norm = F.broadcast(
        raw.agg(
            F.greatest(F.expr(f"sum(s) div {_PR_SCALE}"), F.lit(1))
            .cast("bigint")
            .alias("dn")
        )
    )
    return (
        nodes.join(raw, nodes.node == raw.t, "left")
        .crossJoin(norm)
        .select("node", F.expr("coalesce(s, 0) div dn").cast("bigint").alias("v"))
        .transform(truncate_eager)
    )


@register(
    "graph_pagerank_iter",
    oracle=f"""
        WITH edges AS ({_purchase_edges_sql()}),
        deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
        n AS (SELECT (SELECT count(*) FROM customer)
                   + (SELECT count(*) FROM supplier) AS n),
        r0 AS (SELECT {_PR_SCALE} // n AS r FROM n),
        contrib AS (
            SELECT e.v, (SELECT r FROM r0) // d.d AS c
            FROM edges e JOIN deg d ON d.u = e.u
        )
        SELECT s.s_suppkey,
               CAST((15 * (SELECT r FROM r0)) // 100
                   + (85 * COALESCE(sum(c.c), 0)) // 100 AS BIGINT) AS rank_scaled
        FROM supplier s LEFT JOIN contrib c ON c.v = s.s_suppkey * 2 + 1
        GROUP BY s.s_suppkey
        """,
    category="graph",
    doc="One PageRank power iteration (damping 0.85) over the "
    "customer→supplier purchase graph: rank mass flows from each "
    "customer equally across the suppliers it buys from.  Arithmetic is "
    "integer fixed-point (1e-12 units, floor division) so the iteration "
    "is bit-identical across engines — float PageRank would drift by "
    "summation order.  The plan is the scale shape of every Pregel "
    "superstep: edges ⋈ degrees (AQE broadcasts the node-scale side "
    "while it fits, else a keyed shuffle) → shuffle on dst → "
    "aggregate; iterating is a Python loop re-running the same plan "
    "with the previous rank table, each step one shuffle of "
    "edge-contributions.",
)
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _purchase_edges(spark, sf_dir)
    # Node count rides IN-PLAN as a broadcast 1-row aggregate (customers
    # + suppliers) — no driver-side count jobs before the main action.
    nb = F.broadcast(
        t(spark, sf_dir, "customer")
        .agg(F.count(F.lit(1)).alias("ncust"))
        .crossJoin(
            t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("nsupp"))
        )
        .select((F.col("ncust") + F.col("nsupp")).cast("bigint").alias("n_nodes"))
    )
    # No hint on the node-scale degree table; AQE broadcasts while it fits.
    contrib = (
        edges.join(_degree(edges), "u")
        .crossJoin(nb)
        .select(
            _node_key("v").alias("s_suppkey"),
            F.expr(f"({_PR_SCALE} div n_nodes) div d").alias("c"),
        )
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey")
    return (
        # joined on the supplier key itself, so the aggregate below
        # reuses the join's partitioning instead of shuffling again
        s.join(contrib, "s_suppkey", "left")
        .groupBy("s_suppkey")
        .agg(F.expr("85 * coalesce(sum(c), 0) div 100").alias("flow"))
        .crossJoin(nb)
        .select(
            "s_suppkey",
            (
                F.expr(f"15 * ({_PR_SCALE} div n_nodes) div 100")
                + F.col("flow")
            )
            .cast("bigint")
            .alias("rank_scaled"),
        )
    )


@register(
    "graph_pagerank_2iter",
    oracle=f"""
        WITH edges AS ({_purchase_edges_sql()}),
        deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
        n AS (SELECT (SELECT count(*) FROM customer)
                   + (SELECT count(*) FROM supplier) AS n),
        r0 AS (SELECT CAST({_PR_SCALE} // n AS BIGINT) AS r FROM n),
        tele AS (SELECT CAST((15 * (SELECT r FROM r0)) // 100 AS BIGINT) AS tp),
        -- iteration 1: every node starts at r0; customers have no
        -- in-edges on the bipartite purchase graph, so rank1(c) = tp and
        -- rank1(s) = tp + 85% * sum(r0 // deg(src)).
        contrib1 AS (
            SELECT e.v, (SELECT r FROM r0) // d.d AS c
            FROM edges e JOIN deg d ON d.u = e.u
        ),
        -- iteration 2: contributions now carry rank1(src) = tp.
        contrib2 AS (
            SELECT e.v, (SELECT tp FROM tele) // d.d AS c
            FROM edges e JOIN deg d ON d.u = e.u
        )
        SELECT s.s_suppkey,
               CAST((SELECT tp FROM tele)
                   + (85 * COALESCE(sum(c.c), 0)) // 100 AS BIGINT) AS rank_scaled
        FROM supplier s LEFT JOIN contrib2 c ON c.v = s.s_suppkey * 2 + 1
        GROUP BY s.s_suppkey
        """,
    category="graph",
    doc="TWO PageRank power iterations via the generic iterative driver "
    "loop graph_pagerank_iter documents: a rank table over ALL nodes "
    "(int64 node keys: customers 2k, suppliers 2k+1), each iteration "
    "one edges ⋈ deg ⋈ ranks plan re-run with the previous rank table, "
    "localCheckpoint "
    "truncating lineage between supersteps (the Pregel shape; same "
    "recipe as graph_bfs_distances).  Integer fixed-point throughout, "
    "so both iterations are bit-identical to the oracle's unrolled CTE "
    "recurrence.  On this bipartite graph customers have no in-edges, "
    "so the oracle's iteration-2 contributions carry rank1 = teleport — "
    "the Spark side does NOT use that shortcut; it runs the general "
    "loop and must converge to the same integers.",
)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        _purchase_edges(spark, sf_dir)
        .select(F.col("u").alias("src"), F.col("v").alias("dst"), F.lit(1).alias("w"))
        .transform(truncate_lazy)
    )
    nodes = (
        t(spark, sf_dir, "customer")
        .select(_cust_node("c_custkey").alias("node"))
        .unionAll(
            t(spark, sf_dir, "supplier").select(_supp_node("s_suppkey").alias("node"))
        )
        .transform(truncate_lazy)
    )
    ranks = _pagerank(edges, _degree(edges, "src"), nodes, 2, dangling=False)
    return ranks.filter(F.col("node") % 2 == 1).select(
        _node_key().alias("s_suppkey"), F.col("r").alias("rank_scaled")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
        WITH {_COPURCHASE_SQL},
        tri AS ({_TRIANGLES_SQL})
        SELECT (SELECT count(*) FROM e) AS n_edges, n_triangles FROM tri
        """,
    category="graph",
    doc="Triangle counting on the part co-purchase graph (parts sharing "
    "an order; undirected edges canonicalized u < v so each triangle is "
    "counted exactly once as u < v < w).  Pure relational form: two "
    "self-joins of the edge table — the standard distributed algorithm, "
    "where Spark shuffles edges by vertex and AQE picks broadcast vs "
    "shuffled-hash per join.  At 100 TB-graph scale the refinement is "
    "degree-ordered orientation (point each edge from low- to "
    "high-degree endpoint) which bounds the wedge intermediate; the "
    "canonical u < v form here is that orientation under the key order.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir)
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(_triangles(e))


@register(
    "graph_bfs_distances",
    oracle=f"""
        WITH RECURSIVE e AS ({_purchase_edges_sql()}),
        {_sym_sql()},
        walk(node, d) AS (
            SELECT CAST(2 AS BIGINT), 0
            UNION
            SELECT s.v, w.d + 1
            FROM walk w JOIN sym s ON s.u = w.node
            WHERE w.d < 4
        ),
        dist AS (SELECT node, min(d) AS d FROM walk GROUP BY node)
        SELECT d, count(*) AS n_nodes,
               min(CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
                   || CAST(node // 2 AS VARCHAR)) AS example_node
        FROM dist GROUP BY d
        """,
    category="graph",
    doc="BFS shortest-path distances from customer 1 over the "
    "customer-supplier purchase graph (bipartite, undirected), capped "
    "at 4 hops — the reachability/radius primitive next to pagerank, "
    "triangles and connected components.  Spark side is frontier BFS: "
    "each hop is one join of the current frontier against the edge "
    "list (pre-aggregated to distinct edges, then the frontier "
    "broadcast when small — the Pregel superstep shape), visited set "
    "maintained via union+min.  The oracle walks the identical "
    "recurrence as a recursive CTE; exact integer distances make the "
    "histogram hash-stable.  At 100 TB the frontier join shuffles on "
    "the node key each hop and the hop count bounds total work.",
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nodes travel as int64 keys through every join/distinct/shuffle;
    # the 'c…'/'s…' display labels are formatted only at the end, on the
    # node-count-sized distance table, where no shuffle follows.
    sym = _symmetrize(_purchase_edges(spark, sf_dir)).transform(truncate_eager)

    dist = spark.createDataFrame([(2, 0)], "node bigint, d int")
    frontier, frontier_rows = dist, 1
    for hop in range(1, 5):
        # Broadcast the frontier only while it is provably small (row
        # count known from the previous hop's checkpoint); a hot BFS
        # frontier can reach graph scale, where a forced broadcast OOMs
        # the executors — beyond the guard it becomes a shuffle join on
        # the node key, the general Pregel superstep.
        probe = (
            F.broadcast(frontier)
            if frontier_rows <= _BFS_BROADCAST_MAX_ROWS
            else frontier
        )
        nxt = (
            sym.join(probe, sym.u == frontier.node)
            .select(F.col("v").alias("node"), F.lit(hop).alias("d"))
            .distinct()
            .join(dist.select(F.col("node").alias("seen")), F.col("node") == F.col("seen"), "left_anti")
            .transform(truncate_eager)
        )
        frontier_rows = nxt.count()
        if frontier_rows == 0:
            break
        # r13 optimization round: no re-checkpoint of the accumulated
        # distance table — both union sides are already materialized
        # RDDs (the seed literal and each hop's checkpointed frontier),
        # so the union is a flat plan of cached scans; the old eager
        # truncate re-copied ALL distances every hop (O(hops x nodes)
        # extra materialization for a plan that was already O(1) deep).
        dist = dist.unionAll(nxt)
        frontier = nxt
    labeled = dist.select(
        "d",
        F.concat(
            F.when(F.col("node") % 2 == 0, "c").otherwise("s"),
            _node_key().cast("string"),
        ).alias("node"),
    )
    return labeled.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("example_node"),
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
        WITH edges AS ({_purchase_edges_sql()}),
        deg AS (
            SELECT u AS node, count(*) AS d FROM edges GROUP BY u
            UNION ALL
            SELECT v, count(*) FROM edges GROUP BY v
        )
        SELECT CASE WHEN node % 2 = 0 THEN 'customer'
                    ELSE 'supplier' END AS side,
               length(bin(d)) - 1 AS degree_log2,
               count(*) AS n_nodes,
               CAST(sum(d) AS BIGINT) AS sum_degree
        FROM deg
        GROUP BY 1, 2
        """,
    category="graph",
    doc="Degree distribution of the purchase graph in log2 buckets, per "
    "bipartite side — the graph-health fingerprint read before any "
    "iterative algorithm (a power-law tail predicts skewed Pregel "
    "supersteps and drives salting/threshold choices; compare "
    "text_zipf_fit for the token analogue).  Exact bit-length log2 "
    "buckets, two keyed aggregates (degree, then histogram) — the "
    "edge list is touched once per side and nothing quadratic exists.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _purchase_edges(spark, sf_dir)
    deg = (
        _degree(edges, "u")
        .select(F.lit("customer").alias("side"), "d")
        .unionAll(_degree(edges, "v").select(F.lit("supplier").alias("side"), "d"))
    )
    return deg.groupBy(
        "side", (F.length(F.bin("d")) - 1).alias("degree_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("d").cast("bigint").alias("sum_degree"),
    )


_KCORE_K = 25  # median fixture degree is ~33; k=25 peels a real fringe


def _kcore_round_sql(i: int) -> str:
    return f"""
        d{i} AS (SELECT u, count(*) AS c FROM e{i - 1} GROUP BY u),
        k{i} AS (SELECT u FROM d{i} WHERE c >= {_KCORE_K}),
        e{i} AS (
            SELECT e.u, e.v FROM e{i - 1} e
            JOIN k{i} a ON a.u = e.u
            JOIN k{i} b ON b.u = e.v
        )"""


def _kcore_peel_round(edges: DataFrame) -> DataFrame:
    """One peel round over symmetric edges ``(u, v)``: drop every edge
    with an endpoint of degree below _KCORE_K."""
    keep = _degree(edges).filter(F.col("d") >= _KCORE_K).select("u")
    return edges.join(keep, "u", "left_semi").join(
        keep.select(F.col("u").alias("v")), "v", "left_semi"
    )


@register(
    "graph_kcore_peel",
    oracle=f"""
        WITH e AS ({_purchase_edges_sql()}),
        {_sym_sql()},
        e0 AS (SELECT u, v FROM sym),
        {",".join(_kcore_round_sql(i) for i in range(1, 5))}
        SELECT CAST((SELECT count(DISTINCT u) FROM e0) AS BIGINT)
                   AS n_nodes_start,
               CAST(count(DISTINCT u) AS BIGINT) AS n_nodes_core,
               CAST(count(*) / 2 AS BIGINT) AS n_edges_core,
               CAST(max(c) AS BIGINT) AS max_degree_core
        FROM e4 JOIN (SELECT u, count(*) AS c FROM e4 GROUP BY u) d
          USING (u)
        """,
    category="graph",
    doc="k-core peeling (k=25; the degeneracy primitive behind dense-"
    "community mining): repeatedly delete vertices of degree < k from "
    "the symmetric customer-supplier purchase graph — each deletion "
    "can drop neighbors below k, so the peel cascades.  "
    "Exactly FOUR peel rounds run in BOTH engines — peeling is "
    "monotone, so converged rounds are no-ops and the unrolled oracle "
    "recurrence stays bit-identical to the loop.  Each round is one "
    "degree aggregate plus two semi joins on int64 node keys (rule 5; "
    "the Pregel superstep shape, like BFS/PageRank), with "
    "localCheckpoint truncating lineage between rounds.  Output is "
    "the core summary a scheduler reads before running an expensive "
    "community algorithm on the dense remainder.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _symmetrize(_purchase_edges(spark, sf_dir)).transform(truncate_lazy)
    n_start = edges.agg(
        F.countDistinct("u").cast("bigint").alias("n_nodes_start")
    )
    for _ in range(4):
        edges = _kcore_peel_round(edges).transform(truncate_lazy)
    core = edges.join(_degree(edges), "u").agg(
        F.countDistinct("u").cast("bigint").alias("n_nodes_core"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges_core"),
        F.max("d").cast("bigint").alias("max_degree_core"),
    )
    return n_start.crossJoin(core).select(
        "n_nodes_start", "n_nodes_core", "n_edges_core", "max_degree_core"
    )


def _sssp_round_sql(i: int) -> str:
    return f"""
        d{i} AS (SELECT node, min(d) AS d FROM (
                   SELECT node, d FROM d{i - 1}
                   UNION ALL
                   SELECT s.v, p.d + s.w FROM d{i - 1} p JOIN sym s ON s.u = p.node
               ) GROUP BY node)"""


@register(
    "graph_sssp_weighted",
    oracle=f"""
        WITH e AS (
            SELECT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v,
                   CAST(min(l.l_quantity) AS BIGINT) AS w
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2
        ),
        {_sym_sql(carry=", w")},
        d0(node, d) AS (SELECT 2, CAST(0 AS BIGINT)),
        {",".join(_sssp_round_sql(i) for i in range(1, 4))}
        SELECT (node - 1) // 2 AS s_suppkey, d AS dist_qty
        FROM d3
        WHERE node % 2 = 1 AND (node - 1) // 2 <= 25
        """,
    category="graph",
    doc="Weighted single-source shortest paths (Bellman-Ford, 3 "
    "relaxation rounds) from customer 1 over the customer-supplier "
    "purchase graph, edge cost = the cheapest quantity ever traded on "
    "that edge — the weighted companion to graph_bfs_distances (hops) "
    "with genuinely different results: a 3-hop path can undercut a "
    "1-hop edge.  Each round is one join of the tentative-distance "
    "table against the edge list then a min-aggregate on node — the "
    "Pregel superstep as a relational plan; per-round localCheckpoint "
    "keeps the physical plan flat (reliable checkpoint on a cluster).  "
    "Weights are exact integers (TPC-H quantities are whole), so "
    "distances are bit-identical across engines.  The reference could "
    "express one relaxation only as a whole map-reduce job, re-run per "
    "round (reference mincemeat.py:294-297).  At 100 TB each round "
    "shuffles the node-scale distance table on the join key; AQE "
    "broadcasts it while it fits.",
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _purchases(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
    )
    sym = _symmetrize(e, "w").transform(truncate_eager)

    dist = spark.createDataFrame([(2, 0)], "node bigint, d bigint")
    for _ in range(3):
        relaxed = dist.join(sym, dist.node == sym.u).select(
            F.col("v").alias("node"), (dist.d + sym.w).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .transform(truncate_eager)
        )
    return dist.filter((F.col("node") % 2 == 1) & (_node_key() <= 25)).select(
        _node_key().alias("s_suppkey"), F.col("d").alias("dist_qty")
    )


@register(
    "graph_modularity",
    oracle=f"""
        WITH RECURSIVE {_COPURCHASE_SQL},
        m AS (SELECT count(*) AS m FROM e),
        {_sym_sql()},
        {_DEG_SQL},
        reach(u, v) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        ),
        comp AS (SELECT u AS node, min(v) AS c FROM reach GROUP BY u),
        parts AS (
            SELECT 'components' AS part, node, c FROM comp
            UNION ALL
            SELECT 'hash8', node, node % 8 FROM deg
        ),
        intra AS (
            SELECT p.part, pu.c, count(*) AS l_c
            FROM e
            JOIN parts pu ON pu.node = e.u
            JOIN parts pv ON pv.node = e.v AND pv.part = pu.part
                          AND pv.c = pu.c
            JOIN (SELECT DISTINCT part FROM parts) p ON p.part = pu.part
            WHERE pu.part = p.part
            GROUP BY p.part, pu.c
        ),
        dsum AS (
            SELECT pt.part, pt.c, CAST(sum(dg.d) AS BIGINT) AS d_c
            FROM parts pt JOIN deg dg ON dg.node = pt.node
            GROUP BY pt.part, pt.c
        )
        SELECT ds.part,
               count(*) AS n_communities,
               CAST(sum(4 * (SELECT m FROM m) * COALESCE(i.l_c, 0)
                        - ds.d_c * ds.d_c) AS BIGINT) AS q_num,
               CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS BIGINT)
                   AS q_denom
        FROM dsum ds
        LEFT JOIN intra i ON i.part = ds.part AND i.c = ds.c
        GROUP BY ds.part
        """,
    category="graph",
    doc="Partition-quality evaluation for the graph family (the "
    "companion to the ANN recall evals): Newman modularity of the "
    "connected-components partition vs a degree-null hash-random "
    "partition of the same part co-purchase graph, in EXACT integer "
    "arithmetic — Q is emitted as the integer pair (q_num, q_denom) = "
    "(sum_c(4*m*L_c - d_c^2), 4*m^2), so no float division ever "
    "happens and the oracle hash-matches bit for bit.  The structural "
    "partition must score above the random one (Q_components > "
    "Q_hash8 after cross-multiplying — same denominator here), which "
    "is what makes this an eval rather than a statistic.  Plan: "
    "edge list + degree table + two community labelings, all keyed "
    "shuffles on int64 node ids; the min-label components loop is "
    "shared with dedup_clusters' recipe.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mincemeatpy_spark.text.dedup import _min_label_components

    e = _copurchase_edges(spark, sf_dir).transform(truncate_eager)
    m = F.broadcast(e.agg(F.count(F.lit(1)).alias("m")))
    deg = _degree(_symmetrize(e)).withColumnRenamed("u", "node")
    comp = _min_label_components(
        e.select(F.col("u").alias("d1"), F.col("v").alias("d2"))
    ).select(F.col("doc_id").alias("node"), F.col("cluster_id").alias("c"))
    parts = comp.select(F.lit("components").alias("part"), "node", "c").unionAll(
        deg.select(
            F.lit("hash8").alias("part"), "node", (F.col("node") % 8).alias("c")
        )
    )
    pu = parts.select(
        F.col("part").alias("part_u"), F.col("node").alias("nu"), F.col("c").alias("cu")
    )
    pv = parts.select(
        F.col("part").alias("part_v"), F.col("node").alias("nv"), F.col("c").alias("cv")
    )
    intra = (
        e.join(pu, e.u == pu.nu)
        .join(
            pv,
            (e.v == pv.nv) & (pu.part_u == pv.part_v) & (pu.cu == pv.cv),
        )
        .groupBy(F.col("part_u").alias("part"), F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    dsum = (
        parts.join(deg, "node")
        .groupBy("part", "c")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    return (
        dsum.join(intra, ["part", "c"], "left")
        .crossJoin(m)
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(
                4 * F.col("m") * F.coalesce(F.col("l_c"), F.lit(0))
                - F.col("d_c") * F.col("d_c")
            )
            .cast("bigint")
            .alias("q_num"),
            (4 * F.max("m") * F.max("m")).cast("bigint").alias("q_denom"),
        )
    )


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
        WITH {_COPURCHASE_SQL},
        {_sym_sql()},
        {_DEG_SQL},
        wedge AS (
            SELECT s1.v AS u, s2.v AS v, count(*) AS common
            FROM sym s1 JOIN sym s2 ON s2.u = s1.u AND s1.v < s2.v
            GROUP BY s1.v, s2.v
        ),
        cand AS (
            SELECT w.u, w.v, w.common, du.d AS du, dv.d AS dv
            FROM wedge w
            JOIN deg du ON du.node = w.u
            JOIN deg dv ON dv.node = w.v
            WHERE NOT EXISTS (SELECT 1 FROM e
                              WHERE e.u = w.u AND e.v = w.v)
        )
        SELECT u, v,
               CAST(common AS BIGINT) AS n_common,
               CAST(du + dv - common AS BIGINT) AS n_union
        FROM (SELECT u, v, common, du, dv,
                     row_number() OVER (
                         ORDER BY CAST(common AS DOUBLE) / (du + dv - common)
                                  DESC, u, v) AS rk
              FROM cand)
        WHERE rk <= 20
        """,
    category="graph",
    doc="Link prediction by common-neighbor Jaccard — the classic "
    "recommend-an-edge primitive: for every NON-edge pair sharing at "
    "least one neighbor, score |N(u) n N(v)| / |N(u) u N(v)| and rank "
    "the top 20 predicted links.  The candidate set is the wedge "
    "(2-path) join — work scales with sum of squared degrees, the same "
    "budget as triangle counting, never all pairs; the existing-edge "
    "anti-join removes known links.  Scores emit as exact integer "
    "(intersection, union) pairs; the ranking division is a single "
    "IEEE op identical in both engines.  At 100 TB the refinement is "
    "degree-capping hub nodes before the wedge join (the same hot-key "
    "mitigation as dedup_ngram_jaccard_capped's stop-shingles).",
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir).transform(truncate_eager)
    sym = _symmetrize(e)
    deg = _degree(sym)
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = (
        s1.join(
            s2,
            (F.col("s2.u") == F.col("s1.u")) & (F.col("s1.v") < F.col("s2.v")),
        )
        .groupBy(F.col("s1.v").alias("u"), F.col("s2.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    du = deg.select(F.col("u").alias("nu"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("nv"), F.col("d").alias("dv"))
    cand = (
        wedge.join(e, ["u", "v"], "left_anti")
        .join(du, F.col("u") == F.col("nu"))
        .join(dv, F.col("v") == F.col("nv"))
    )
    score = F.col("common").cast("double") / (
        F.col("du") + F.col("dv") - F.col("common")
    )
    # top-20 via orderBy+limit = TakeOrderedAndProject (per-partition
    # partial top-k, no global sort, no single-partition window).
    return (
        cand.orderBy(score.desc(), "u", "v")
        .limit(20)
        .select(
            "u",
            "v",
            F.col("common").cast("bigint").alias("n_common"),
            (F.col("du") + F.col("dv") - F.col("common"))
            .cast("bigint")
            .alias("n_union"),
        )
    )


# Sparsified purchase graph shared by the star-CC and label-propagation
# queries (l_quantity >= 48 keeps ~6% of lineitem, so the graph
# fractures into many components instead of one giant one).
_SPARSE_QTY = 48


# Alternating-algorithm CC: cap on rounds (the algorithm converges in
# O(log^2 n) rounds with high probability — Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC'14; >10 pair-rounds on any
# real graph means a bug, not a slow graph).
_CC_MAX_ROUNDS = 10


@register(
    "graph_connected_components_star",
    oracle=f"""
        WITH RECURSIVE e AS ({_purchase_edges_sql(_SPARSE_QTY)}),
        {_sym_sql()},
        reach(node, lab) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT s.u, r.lab FROM sym s JOIN reach r ON r.node = s.v
        ),
        comp AS (SELECT node, min(lab) AS root FROM reach GROUP BY node),
        sizes AS (SELECT root, count(*) AS sz FROM comp GROUP BY root)
        SELECT CAST(sz AS BIGINT) AS component_size,
               CAST(count(*) AS BIGINT) AS n_components,
               CAST(min(root) AS BIGINT) AS example_root
        FROM sizes GROUP BY sz
        """,
    category="graph",
    doc="Connected components by the ALTERNATING star algorithm "
    "(large-star / small-star, Kiveris et al. SoCC'14) on the sparsified "
    "purchase graph (l_quantity >= 48 keeps ~6% of lineitem, so the "
    "graph fractures into many components instead of one giant one).  "
    "This is the other canonical distributed-CC primitive next to the "
    "min-label loop dedup_clusters uses: min-label needs O(diameter) "
    "rounds, while star-contraction needs O(log^2 n) w.h.p. regardless "
    "of diameter — the 100 TB-correct choice for long-chain graphs.  "
    "Each half-round is one groupBy(node) min + one re-join of the edge "
    "list (per-round cost linear in edges, partition-parallel, no "
    "broadcast of anything node-scale); localCheckpoint truncates "
    "lineage between rounds; convergence is an exceptAll-count fixed "
    "point, and the round cap asserts the paper's bound.  The oracle is "
    "ALGORITHM-INDEPENDENT truth: a recursive min-label closure in "
    "DuckDB — the star roots must equal the true component minima.  "
    "Output is the bounded component-size histogram.",
)
def graph_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _purchase_edges(spark, sf_dir, _SPARSE_QTY).transform(truncate_eager)

    def large_star(e: DataFrame) -> DataFrame:
        # connect every strictly-larger neighbor of u to min(N(u) ∪ {u})
        sym = _symmetrize(e)
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient each edge large→small; connect u and all its smaller
        # neighbors except the minimum to that minimum
        ori = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        joined = ori.join(mins, "u")
        return (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
        )

    cur = edges
    for _ in range(_CC_MAX_ROUNDS):
        nxt = small_star(large_star(cur)).transform(truncate_eager)
        # fixed point: both sides are distinct sets, so same count +
        # empty difference ⇔ equal.  Two bounded driver scalars per
        # round (the BFS-loop precedent), never row data.
        if (
            nxt.count() == cur.count()
            and nxt.exceptAll(cur).count() == 0
        ):
            cur = nxt
            break
        cur = nxt
    else:
        raise RuntimeError(
            f"star CC did not converge in {_CC_MAX_ROUNDS} rounds"
        )

    # converged star edges: (node, root) for every non-root node
    assign = cur.select(F.col("u").alias("node"), F.col("v").alias("root"))
    roots = assign.select("root").distinct().select(
        F.col("root").alias("node"), F.col("root")
    )
    comp = assign.unionAll(roots)
    sizes = comp.groupBy("root").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("bigint").alias("component_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.min("root").cast("bigint").alias("example_root"),
    )


@register(
    "graph_label_propagation",
    oracle=f"""
        WITH e AS ({_purchase_edges_sql(_SPARSE_QTY)}),
        {_sym_sql()},
        l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym),
        v1 AS (
            SELECT s.u, l.lab, count(*) AS c
            FROM sym s JOIN l0 l ON l.node = s.v
            GROUP BY s.u, l.lab
        ),
        l1 AS (
            SELECT u AS node, lab FROM (
                SELECT u, lab,
                       row_number() OVER (PARTITION BY u
                                          ORDER BY c DESC, lab ASC) AS rn
                FROM v1) WHERE rn = 1
        ),
        v2 AS (
            SELECT s.u, l.lab, count(*) AS c
            FROM sym s JOIN l1 l ON l.node = s.v
            GROUP BY s.u, l.lab
        ),
        l2 AS (
            SELECT u AS node, lab FROM (
                SELECT u, lab,
                       row_number() OVER (PARTITION BY u
                                          ORDER BY c DESC, lab ASC) AS rn
                FROM v2) WHERE rn = 1
        ),
        comm AS (SELECT lab, count(*) AS sz FROM l2 GROUP BY lab)
        SELECT CAST(sz AS BIGINT) AS community_size,
               CAST(count(*) AS BIGINT) AS n_communities,
               CAST(min(lab) AS BIGINT) AS example_label
        FROM comm GROUP BY sz
        """,
    category="graph",
    doc="Label propagation community detection (Raghavan et al. 2007), "
    "two SYNCHRONOUS rounds with a deterministic tie-break (highest "
    "neighbor-label frequency, ties to the smallest label — the async "
    "random-order variant is not reproducible across engines) on the "
    "sparsified purchase graph.  Each round is the Pregel superstep as "
    "a relational plan: edges ⋈ labels (shuffle on the node key), "
    "groupBy (node, label) count, then a per-node window row_number "
    "picks the argmax — per-round cost linear in edges with no "
    "node-scale broadcast, so the round count is the only scale knob.  "
    "The oracle unrolls both rounds as CTEs with the identical "
    "tie-break, making the fixed 2-round result bit-exact.  Output is "
    "the bounded community-size histogram after round 2.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    sym = _symmetrize(_purchase_edges(spark, sf_dir, _SPARSE_QTY)).transform(
        truncate_eager
    )

    lab = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = W.partitionBy("u").orderBy(F.col("c").desc(), F.col("lab").asc())
    for _ in range(2):
        votes = (
            sym.join(lab, sym.v == lab.node)
            .groupBy("u", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lab = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "lab")
            .transform(truncate_eager)
        )
    comm = lab.groupBy("lab").agg(F.count(F.lit(1)).alias("sz"))
    return comm.groupBy(F.col("sz").cast("bigint").alias("community_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.min("lab").cast("bigint").alias("example_label"),
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
        WITH {_COPURCHASE_SQL},
        {_sym_sql()},
        {_DEG_SQL},
        tri AS ({_TRIANGLES_SQL}),
        wed AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
                FROM deg)
        SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
               n_wedges,
               CAST(CASE WHEN n_wedges = 0 THEN NULL
                         ELSE (CAST(3 AS BIGINT) * n_triangles * 1000000)
                              // n_wedges END AS BIGINT) AS global_coeff_ppm
        FROM tri, wed
        """,
    category="graph",
    doc="Global clustering coefficient (transitivity) of the part "
    "co-purchase graph: 3 x triangles / wedges, where wedges = "
    "sum over nodes of C(deg, 2) — the one-number cohesion summary "
    "read next to graph_degree_distribution before any community "
    "algorithm is chosen.  Triangles reuse graph_triangle_count's "
    "canonicalized two-self-join; the wedge count is a degree "
    "aggregate, so the marginal cost over counting triangles is one "
    "extra groupBy.  The coefficient is an exact ppm integer division "
    "(non-negative operands — both engines floor identically; the "
    "wedge-free-graph edge case is NULL-guarded in the oracle because "
    "Spark's div yields NULL on a zero divisor while DuckDB's // "
    "raises).  Both 1-row aggregates cross-join at the end, adding no "
    "shuffle of data-scale rows.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir).transform(truncate_eager)
    wedges = _degree(_symmetrize(e)).agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    tri = _triangles(e)
    return tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.expr(
            "cast((cast(3 as bigint) * n_triangles * 1000000)"
            " div n_wedges as bigint)"
        ).alias("global_coeff_ppm"),
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
        WITH e AS ({_purchase_edges_sql()}),
        dc AS (SELECT u, CAST(count(*) AS BIGINT) AS dcx FROM e GROUP BY u),
        ds AS (SELECT v, CAST(count(*) AS BIGINT) AS dsy FROM e GROUP BY v),
        xy AS (
            SELECT dc.dcx AS x, ds.dsy AS y
            FROM e JOIN dc ON e.u = dc.u JOIN ds ON e.v = ds.v
        )
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               (count(*) * CAST(sum(x * y) AS DOUBLE) - CAST(sum(x) AS DOUBLE) * sum(y))
               / (sqrt(count(*) * CAST(sum(x * x) AS DOUBLE) - CAST(sum(x) AS DOUBLE) * sum(x))
                  * sqrt(count(*) * CAST(sum(y * y) AS DOUBLE) - CAST(sum(y) AS DOUBLE) * sum(y)))
                   AS assortativity
        FROM xy
        """,
    category="graph",
    doc="Degree assortativity of the customer-supplier bipartite graph: "
    "the Pearson correlation of endpoint degrees across edges — "
    "positive means hubs connect to hubs (Newman 2002), the standard "
    "one-number summary of a graph's mixing pattern and a cheap "
    "early-warning for join-skew topology (disassortative graphs have "
    "hub-to-leaf hot spots).  Exactness: the five moments (sum x, sum "
    "y, sum xy, sum x2, sum y2) and the edge count are exact BIGINT "
    "aggregates; r is ONE scalar expression over them — no float "
    "accumulation, so Spark and DuckDB agree bit-for-bit after "
    "rounding.  Scale shape: edges deduped once; degree tables are "
    "per-node aggregates joined back by key (shuffle join on int64 "
    "keys, SCALE rule 5); the final reduce is a 1-row aggregate.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _purchase_edges(spark, sf_dir)
    xy = (
        e.join(_degree(e, "u").withColumnRenamed("d", "x"), "u")
        .join(_degree(e, "v").withColumnRenamed("d", "y"), "v")
        .select("x", "y")
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    num = n * sxy.cast("double") - sx.cast("double") * sy
    den = F.sqrt(n * sxx.cast("double") - sx.cast("double") * sx) * F.sqrt(
        n * syy.cast("double") - sy.cast("double") * sy
    )
    return xy.agg(
        n.cast("bigint").alias("n_edges"),
        sx.cast("bigint").alias("sx"),
        sy.cast("bigint").alias("sy"),
        sxy.cast("bigint").alias("sxy"),
        sxx.cast("bigint").alias("sxx"),
        syy.cast("bigint").alias("syy"),
        (num / den).alias("assortativity"),
    )
