"""Graph-centrality queries (PageRank over the co-purchase graph).

The reference materializes pairwise similarity relations (similarity.similarity,
db/similarity.py) and serves nearest-neighbor lookups over them; ranking the
entity graph by centrality is the batch-analytics extension of that surface.
PageRank is THE canonical iterative DataFrame workload: the oracle unrolls the
same fixed number of power iterations as chained CTEs, so the gate certifies
every intermediate join/aggregate, not just a fixed point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import round_half_up, sql_round_half_up
from ..operators.graph import copurchase_edges, pagerank
from ..sources.tables import load_table, local_frame
from .registry import query

_PR_ITERS = 6
_PR_D = 0.85


def _pagerank_oracle(iters: int = _PR_ITERS, d: float = _PR_D) -> str:
    """Unrolled power iterations as chained CTEs (DuckDB disallows aggregates
    in recursive terms, so the loop is materialized at SQL-generation time).

    The co-purchase graph is bipartite customer<->supplier with BOTH edge
    directions present, so every node has an out-edge and the dangling-mass
    term of the Spark operator is identically 0.0 — the oracle omits it.
    """
    parts = [
        f"""
        WITH pairs AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        edges AS (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs
        ),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, 1.0 AS pr FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
        r{i} AS (
          SELECT n.node, {1.0 - d} + {d} * coalesce(t.contrib, 0.0) AS pr
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.pr / dg.outdeg) AS contrib
            FROM edges e
            JOIN r{i - 1} r ON r.node = e.src
            JOIN deg dg ON dg.src = e.src
            GROUP BY e.dst
          ) t ON t.node = n.node
        )"""
        )
    parts.append(f"""
        SELECT node, {sql_round_half_up('pr', 5)} AS pr FROM r{iters}""")
    return "".join(parts)


@query(
    "pagerank_copurchase",
    family="GRAPH,V3",
    doc=f"PageRank ({_PR_ITERS} power iterations, d={_PR_D}) over the bipartite "
    "customer<->supplier co-purchase graph (both directions, node space "
    "disambiguated as 2k / 2k+1).  Spark: edges decorated with out-degree "
    "once, rank vector broadcast per iteration (the O(|V|) side moves, the "
    "O(|E|) side never reshuffles), localCheckpoint keeps plans constant-"
    "size.  Ranks are the scaled form (sum == |V|) so rounding to 5 digits "
    "is stable cross-engine.",
    oracle=_pagerank_oracle(),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        # both union branches consume pairs — materialize the join+distinct
        # once instead of running it per branch
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank(edges, iterations=_PR_ITERS, damping=_PR_D, symmetric=True)
    return ranks.select("node", round_half_up(F.col("pr"), 5).alias("pr"))


_LPA_ITERS = 4


def _lpa_oracle(iters: int = _LPA_ITERS) -> str:
    """Unrolled synchronous label-propagation iterations as chained CTEs
    (deterministic: most-frequent neighbor label, ties to the smallest)."""
    parts = [
        """
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (
          SELECT u AS src, v AS dst FROM pairs
          UNION ALL
          SELECT v AS src, u AS dst FROM pairs
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
        l{i} AS (
          SELECT dst AS node, label FROM (
            SELECT e.dst, l.label,
                   row_number() OVER (PARTITION BY e.dst
                                      ORDER BY count(*) DESC, l.label) AS rn
            FROM edges e JOIN l{i - 1} l ON l.node = e.src
            GROUP BY e.dst, l.label
          ) WHERE rn = 1
        )"""
        )
    parts.append(f"""
        SELECT node, label FROM l{iters}""")
    return "".join(parts)


@query(
    "label_propagation_communities",
    family="GRAPH",
    doc=f"Synchronous label propagation ({_LPA_ITERS} rounds, most-frequent "
    "neighbor label, ties to the smallest) over the part co-purchase "
    "graph — the deterministic fixed-iteration form of LPA community "
    "detection.  Spark: the edge list is joined once per round against "
    "the broadcast O(|V|) label vector (edges never reshuffle), the "
    "adopt step is one (dst,label) aggregate + per-dst rank window, and "
    "localCheckpoint caps plan growth.  The oracle unrolls the identical "
    "rounds as chained CTEs, so every intermediate join/aggregate/rank "
    "is certified, not just the fixed point.",
    oracle=_lpa_oracle(),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import copurchase_edges, label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r9: onto the shared chained-Generate edge builder (min_support=1, whose
    # groupBy(u,v) IS the distinct) — identical pair set to the oracle's
    # self-join DISTINCT, without the SortMergeJoin's two fact sorts
    # (builder measured 1.78 s vs 2.46 s at the sf1 corpus; sf0.1 is
    # round-floor-dominated, interleaved A/B a wash, outputs hash-equal)
    pairs = copurchase_edges(li, min_support=1).localCheckpoint(eager=False)
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return label_propagation(edges, iterations=_LPA_ITERS)


_BFS_ROUNDS = 4
_BFS_SOURCE = 0  # part 0 exists at every sf (partkeys are dense from 0)


def _bfs_oracle(rounds: int = _BFS_ROUNDS, src: int = _BFS_SOURCE) -> str:
    """Unrolled BFS frontier expansion: d{i} holds min-distance labels after
    i rounds; each round relaxes one hop and keeps the minimum."""
    parts = [
        f"""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (
          SELECT u AS src, v AS dst FROM pairs
          UNION ALL
          SELECT v AS src, u AS dst FROM pairs
        ),
        d0 AS (SELECT {src} AS node, 0 AS dist)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
        d{i} AS (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM edges e JOIN d{i - 1} d ON d.node = e.src
          ) GROUP BY node
        )"""
        )
    parts.append(f"""
        SELECT node, dist FROM d{rounds}""")
    return "".join(parts)


@query(
    "bfs_shortest_paths",
    family="GRAPH",
    doc=f"Single-source BFS over the part co-purchase graph: exact hop "
    f"distance from part {_BFS_SOURCE} for every node within "
    f"{_BFS_ROUNDS} hops.  Spark relaxes one hop per round — the O(|E|) "
    "edge list joins against the broadcast frontier-so-far, the union "
    "reduces by min(dist), localCheckpoint caps plan depth (the "
    "pagerank/LPA discipline).  Unlike a visited-set BFS, the "
    "min-relaxation form needs no anti-join and is idempotent per round, "
    "which is what makes the unrolled-CTE oracle line up exactly.",
    oracle=_bfs_oracle(),
)
def bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import copurchase_edges

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # r9: shared chained-Generate edge builder (see label_propagation_
    # communities) — identical pair set, no fact self-join sorts
    pairs = copurchase_edges(li, min_support=1).localCheckpoint(eager=False)
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    # delta iteration: only the FRONTIER (nodes first reached last round)
    # relaxes — each edge is traversed exactly once per endpoint discovery
    # instead of once per round (measured ~2x at sf0.1; at 100 TB this is
    # the difference between O(|E|) and O(rounds * |E|) join work).  The
    # min-relaxation oracle yields the identical distance set because BFS
    # distances are final on first discovery.
    dist = local_frame(spark, [(_BFS_SOURCE, 0)], "node LONG, dist INT")
    frontier = dist
    for i in range(1, _BFS_ROUNDS + 1):
        candidates = (
            edges.join(F.broadcast(frontier), edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = (
            candidates.join(F.broadcast(dist), "node", "left_anti")
            .select("node", F.lit(i).alias("dist"))
            .localCheckpoint(eager=False)
        )
        dist = dist.union(frontier).localCheckpoint(eager=False)
    return dist


# --------------------------------------------------------------------------------------
# GRAPH — link prediction: Adamic-Adar over the support-pruned co-purchase graph
# --------------------------------------------------------------------------------------
_LP_MIN_SUPPORT = 2  # an edge must be co-purchased in >= 2 baskets
_LP_TOP = 50


@query(
    "link_prediction_adamic_adar",
    family="GRAPH,STAT",
    doc=f"Top-{_LP_TOP} predicted links by Adamic-Adar score (Adamic & Adar "
    "2003): for part pairs at distance 2 in the support-pruned co-purchase "
    f"graph (edges co-purchased in >= {_LP_MIN_SUPPORT} baskets), score = "
    "sum over common neighbors z of 1/ln(deg(z)), existing edges excluded "
    "by an anti join.  Scale shape: support pruning bounds the wedge "
    "fan-out before candidate generation (the same hub-noise cut every "
    "production link-predictor applies); wedges join adjacency on the "
    "center node, degrees attach there too, and the candidate aggregate "
    "shuffles (u, v) once.",
    oracle=f"""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= {_LP_MIN_SUPPORT}
        ),
        adj AS (SELECT u AS node, v AS nb FROM edges UNION ALL SELECT v, u FROM edges),
        deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
        wedges AS (
          SELECT a.nb AS x, b.nb AS y, a.node AS z
          FROM adj a JOIN adj b ON a.node = b.node AND a.nb < b.nb
        ),
        cand AS (
          SELECT w.x, w.y,
                 sum(1.0 / ln(d.d)) AS aa,
                 count(*) AS n_common
          FROM wedges w
          JOIN deg d ON d.node = w.z
          LEFT JOIN edges e ON e.u = w.x AND e.v = w.y
          WHERE e.u IS NULL AND d.d >= 2
          GROUP BY w.x, w.y
        )
        SELECT x AS part_u, y AS part_v, CAST(n_common AS BIGINT) AS n_common,
               floor(aa * 10000 + 0.5) / 10000 AS aa_score
        FROM cand
        ORDER BY floor(aa * 10000 + 0.5) / 10000 DESC, part_u, part_v
        LIMIT {_LP_TOP}
    """,
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        copurchase_edges(li, min_support=_LP_MIN_SUPPORT)
        # the pruned edge relation feeds adjacency twice, degrees, wedges and
        # the anti join — materialize once (a few thousand rows at any sf)
        .localCheckpoint(eager=False)
    )
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    wedges = (
        adj.alias("a")
        .join(adj.alias("b"), F.col("a.node") == F.col("b.node"))
        .filter(F.col("a.nb") < F.col("b.nb"))
        .select(F.col("a.nb").alias("x"), F.col("b.nb").alias("y"), F.col("a.node").alias("z"))
    )
    cand = (
        wedges.join(deg.filter(F.col("d") >= 2), wedges.z == deg.node)
        .join(edges, (wedges.x == edges.u) & (wedges.y == edges.v), "left_anti")
        .groupBy("x", "y")
        .agg(
            (F.sum(F.lit(1.0) / F.log(F.col("d")))).alias("aa"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    return (
        cand.select(
            F.col("x").alias("part_u"),
            F.col("y").alias("part_v"),
            F.col("n_common").cast("long").alias("n_common"),
            round_half_up(F.col("aa"), 4).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "part_u", "part_v")
        .limit(_LP_TOP)
    )


# --------------------------------------------------------------------------------------
# GRAPH — bounded reachability via a RECURSIVE CTE (Spark 4 WITH RECURSIVE)
# --------------------------------------------------------------------------------------
_REACH_HOPS = 3
_REACH_SEEDS = 5


def _reach_sql(adj_table: str, dialect: str, prelude: str = "") -> str:
    """One SQL text, two dialects: Spark's array functions vs DuckDB's list
    functions — the query is otherwise identical WITH RECURSIVE SQL."""
    if dialect == "spark":
        mk, app, has = "array(node)", "array_append(w.path, a.v)", "array_contains(w.path, a.v)"
    else:
        mk, app, has = "[node]", "list_append(w.path, a.v)", "list_contains(w.path, a.v)"
    return f"""
        WITH RECURSIVE
        {prelude}
        seeds AS (SELECT u AS node FROM {adj_table} GROUP BY u ORDER BY u LIMIT {_REACH_SEEDS}),
        walk(seed, node, hops, path) AS (
          SELECT node, node, 0, {mk} FROM seeds
          UNION ALL
          SELECT w.seed, a.v, w.hops + 1, {app}
          FROM walk w JOIN {adj_table} a ON a.u = w.node
          WHERE w.hops < {_REACH_HOPS} AND NOT {has}
        )
        SELECT seed, node,
               CAST(min(hops) AS BIGINT) AS min_hops,
               CAST(count(*) AS BIGINT) AS n_simple_paths
        FROM walk WHERE hops > 0
        GROUP BY seed, node
    """


_REACH_ADJ_PRELUDE = """
        op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        adj AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
"""


@query(
    "recursive_cte_reachability",
    family="GRAPH,SQL",
    doc=f"Bounded reachability as ONE declarative plan: WITH RECURSIVE "
    f"(Spark 4 UnionLoop) walks simple paths up to {_REACH_HOPS} hops from "
    f"the {_REACH_SEEDS} lowest-id seed nodes over the support-pruned "
    "co-purchase graph, carrying the visited path to bar cycles; the "
    "rollup reports hop distance and simple-path counts per reached node. "
    "Unlike the DataFrame-loop BFS (bfs_shortest_paths), iteration here "
    "happens INSIDE Catalyst — no driver round-trips, the recursion is "
    "part of the optimized plan.  Scale: the recursive frontier is "
    "seed-bounded and support pruning bounds the branching factor; "
    "unbounded-graph BFS stays the DataFrame loop's job.  The adjacency "
    "relation materializes ONCE (eager localCheckpoint) before the "
    "recursion — every UnionLoop iteration re-executes its subplan, so an "
    "inline adjacency CTE would rebuild the distinct+pair-gen pipeline "
    "per hop (measured 23s -> ~4s at sf0.1).",
    oracle=_reach_sql("adj", "duckdb", prelude=_REACH_ADJ_PRELUDE),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li, min_support=2)
    adj = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    adj.localCheckpoint(eager=True).createOrReplaceTempView("_reach_adj")
    return spark.sql(_reach_sql("_reach_adj", "spark"))


# --------------------------------------------------------------------------------------
# GRAPH — k-core peeling (bounded unrolled rounds)
# --------------------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 3


@query(
    "kcore_peeling",
    family="GRAPH",
    doc=f"{_KCORE_K}-core peeling over the support-pruned co-purchase graph, "
    f"{_KCORE_ROUNDS} unrolled rounds: each round drops nodes with degree < "
    f"{_KCORE_K} and the edges touching them, reporting surviving node/edge "
    "counts per round — the standard graph-cleaning pass before community "
    "or embedding jobs (a bounded-round prefix of full coreness, which at "
    "scale runs the same peel as a convergence loop like "
    "neardup_cluster_assign).  Scale shape: each round is one degree "
    "aggregate + one semi join on the edge relation; edges only shrink.",
    oracle=f"""
        -- MATERIALIZED: each e{{i}}/k{{i}} is referenced 3x downstream; without
        -- the hint DuckDB inlines the chain and re-evaluates it exponentially
        -- (measured 120s -> ~1s at sf0.1)
        WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        d0 AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        k0 AS MATERIALIZED (SELECT node FROM d0 WHERE d >= {_KCORE_K}),
        e1 AS MATERIALIZED (SELECT u, v FROM e0 WHERE u IN (SELECT node FROM k0) AND v IN (SELECT node FROM k0)),
        d1 AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
        k1 AS MATERIALIZED (SELECT node FROM d1 WHERE d >= {_KCORE_K}),
        e2 AS MATERIALIZED (SELECT u, v FROM e1 WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)),
        d2 AS (SELECT node, count(*) AS d FROM (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
        k2 AS MATERIALIZED (SELECT node FROM d2 WHERE d >= {_KCORE_K}),
        e3 AS MATERIALIZED (SELECT u, v FROM e2 WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2))
        SELECT * FROM (
          SELECT 1 AS round, (SELECT count(*) FROM k0) AS n_nodes, (SELECT count(*) FROM e1) AS n_edges
          UNION ALL
          SELECT 2, (SELECT count(*) FROM k1), (SELECT count(*) FROM e2)
          UNION ALL
          SELECT 3, (SELECT count(*) FROM k2), (SELECT count(*) FROM e3)
        )
    """,
)
def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li, min_support=2).localCheckpoint(eager=False)
    rows = []
    e = edges
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        # each round's survivor set feeds TWO semi joins and a count:
        # materialize it (tiny relation) so the peel chain stays constant-size
        keep = keep.localCheckpoint(eager=False)
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        rows.append(
            keep.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
            .select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out
