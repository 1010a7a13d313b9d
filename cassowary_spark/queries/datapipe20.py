"""Round-6 wave 22 (SURVEY.md §2): iterative graph traversal —
single-source BFS hop distances over the co-purchase graph,
histogrammed, with the unreachable remainder accounted for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist, release
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

_SP_SUPPORT = 2
_SP_MAX_HOPS = 20


@query(
    "q_shortest_path",
    oracle=f"""
    WITH RECURSIVE li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS x, b.p AS y
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= {_SP_SUPPORT}
    ),
    sym AS (
        SELECT x AS s, y AS t FROM edges
        UNION ALL SELECT y, x FROM edges
    ),
    nodes AS (SELECT DISTINCT s AS v FROM sym),
    deg AS (SELECT s AS v, count(*) AS d FROM sym GROUP BY 1),
    src AS (SELECT v AS sv FROM deg ORDER BY d DESC, v LIMIT 1),
    reach(v, d) AS (
        SELECT sv, 0 FROM src
        UNION
        SELECT sym.t, reach.d + 1
        FROM reach JOIN sym ON sym.s = reach.v
        WHERE reach.d < {_SP_MAX_HOPS}
    ),
    dmin AS (
        SELECT v, CAST(min(d) AS INTEGER) AS dist FROM reach GROUP BY v
    ),
    hist AS (
        SELECT dist, CAST(count(*) AS BIGINT) AS n_parts
        FROM dmin GROUP BY 1
        UNION ALL
        SELECT -1, CAST(count(*) AS BIGINT)
        FROM nodes WHERE v NOT IN (SELECT v FROM dmin)
    )
    SELECT dist, n_parts FROM hist
    """,
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS distances (C132): hop distance from the
    HIGHEST-DEGREE part (the top co-purchase hub; ties broken by
    smaller id — an arbitrary min-id source usually lands in a tiny
    island and answers nothing) in the support-≥2 co-purchase graph
    (C127's edge set) to every other part, histogrammed by distance
    with the unreachable remainder reported at dist = −1 — the reachability/
    radius profile of a product graph ("how many recommendation hops
    from the anchor product cover the catalog"), and the engine's
    frontier-iteration representative alongside C2's min-label CC
    and B-family PageRank.

    Distances are hop-capped at 20 (the contract "distance, if ≤20"),
    which is what makes a bounded recursive-CTE oracle expressible —
    and the honest contract at 100 TB, where a >20-diameter graph
    wants landmark indexing, not more BFS rounds.

    Determinism: pure integer counting end to end; the source
    (max degree, min-id tiebreak) and the edge set are
    deterministic.

    Scale shape: edge-gen is bounded-basket pair expansion (collect
    each order's ≤7-part basket, emit its C(k,2) ordered pairs
    row-locally — one shuffle where the former self-join paid two); hub
    selection and the graph's node COUNT come out of ONE degree
    aggregation (min over struct(-d, node) picks the hub, count(*)
    the order — a single 1-row reduce, no TakeOrdered sort); each
    BFS round joins only the CURRENT FRONTIER to the adjacency list
    (each edge traversed at most twice across all rounds) and
    anti-joins the last TWO frontiers — sufficient dedup on an
    undirected graph, so every broadcast is frontier-bounded, never
    O(settled); the driver sees a 1-row emptiness probe per round,
    never node data. Rounds are bounded by the min(diameter, 20).
    The unreachable remainder is NOT a separate nodes-anti-join job:
    BFS settles each node exactly once, so a single rollup over the
    settled set yields the per-distance histogram AND the reached
    total in one shuffle, and unreached = n_nodes - reached is a
    row-local subtraction on the grand-total row.
    """
    from cassowary_spark.operators.graph import bfs_distances

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # r12: basket-collect pair-gen replaces the self-join — baskets
    # are order-bounded (TPC-H ≤7 lineitems), so per-row pair
    # expansion is O(basket²) row-local work and each basket shuffles
    # ONCE (groupBy o) instead of twice (both join sides); same edge
    # set, one fewer exchange, ~15% faster end-to-end at sf0.1.
    # r14: collect_set dedups inside the same agg — the former
    # standalone distinct() paid one more full (o, p)-keyed exchange
    # for duplicates the set-agg removes for free.
    baskets = li.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (a, i) -> "
                "transform(slice(ps, i+2, size(ps)-i-1), "
                "b -> struct(a as x, b as y))))"
            )
        ).alias("pr")
    )
    edges = (
        pairs.groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= _SP_SUPPORT)
        .select("x", "y")
    )
    # r14: symmetrize ONCE and persist only the symmetric frame — the
    # degree/hub reduce and every BFS round consume the same
    # materialization (formerly edges AND its re-symmetrized copy were
    # each persisted+materialized). The union is row-local, so this
    # drops one cache and one materialization job, not just bytes.
    sym = persist(
        edges.unionAll(edges.select(F.col("y").alias("x"), F.col("x").alias("y")))
    )
    # ONE job yields both the hub (max degree, min-id tiebreak: min
    # over struct(-d, node)) and the node count — replacing the old
    # TakeOrdered hub job plus a later nodes-distinct anti-join.
    deg_row = (
        sym.groupBy("x")
        .agg(F.count("*").alias("d"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min(
                F.struct((-F.col("d")).alias("nd"), F.col("x").alias("v"))
            ).alias("h"),
        )
        .collect()[0]
    )
    hub, n_nodes = deg_row["h"]["v"], deg_row["n_nodes"]
    dist = bfs_distances(
        sym, "x", "y", source=hub, max_hops=_SP_MAX_HOPS, symmetric=True
    )
    # the BFS rounds are checkpointed: dist no longer reads sym
    release(sym)
    # rollup = per-distance counts + a grand-total row (dist NULL) in
    # one shuffle; the NULL row becomes the unreachable bucket. BFS
    # settles each node once, so reached = the grand total and
    # unreached = n_nodes - reached (always emitted, 0 included —
    # matching the oracle's ungrouped count over the anti set).
    return (
        dist.rollup("dist")
        .agg(F.count("*").alias("c"))
        .select(
            F.coalesce(F.col("dist"), F.lit(-1)).cast("int").alias("dist"),
            F.when(F.col("dist").isNull(), F.lit(n_nodes) - F.col("c"))
            .otherwise(F.col("c"))
            .cast("long")
            .alias("n_parts"),
        )
    )
