"""Graph centrality over an edge list — fixed-iteration PageRank, the
web-graph quality signal a Common-Crawl-style curation pipeline ranks
hosts/documents with (CCNet and its descendants gate crawl quality on
link-graph centrality; Page et al. 1999 is the public algorithm).

Spark-first shape: each iteration is two shuffles — (1) join current
ranks onto the out-edge list keyed by src and aggregate per-edge
contributions by dst, (2) left-join the contribution table back onto
the node set. The edge list (with its out-degree pre-attached) is
checkpointed ONCE and reused every round; the per-iteration state is
one (node, rank) row per vertex — linear, and tiny next to the edges.

Portability (the oracle contract): all arithmetic is integer
fixed-point — ranks are bigints scaled by ``scale``, per-edge
contributions use floor division (``rank DIV outdeg``), and the damped
update is ``(den-num)*scale//den + num*contrib//den``. Summing bigints
is order-free, so Spark and DuckDB (recursive CTE) agree bit-for-bit;
float PageRank would diverge across engines in the last ulps.

Semantics notes:
- multigraph edges count once per row (dedupe upstream if unwanted);
- dangling nodes (no out-edges) leak their mass — the classic
  "lost mass" variant; every node still receives the (1-d) base;
- overflow bound (Spark 4 ANSI errors instead of wrapping): one node's
  damped in-flow is at most num * |V| * scale, so keep
  |V| * scale < 2**63 / num — at the default scale=1e9 that is
  ~1e8 vertices; drop ``scale`` to 1e6 for billion-node graphs.

Reference parity: the reference has no graph operators (SURVEY.md §2.2
'absent'); this is a BASELINE.json LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**9,
    prepartition: int | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    Returns ``node, rank`` (one row per distinct vertex; ``rank`` is a
    bigint scaled by ``scale`` — every node starts at ``scale`` and
    ranks stay comparable across engines because the update is pure
    integer arithmetic).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    base = (damping_den - damping_num) * scale // damping_den

    # materialize the edge list ONCE — the upstream plan (often a join
    # pipeline) must not re-execute per iteration
    e = edges.select(
        F.col(src_col).cast("bigint").alias("src"),
        F.col(dst_col).cast("bigint").alias("dst"),
    ).localCheckpoint(eager=True)

    # `prepartition=N` hash-partitions the two reused frames by their
    # join keys ONCE (N = executor-core count on a real cluster): ranks
    # (re)shuffle to the matching layout each round, but the big edge
    # table and the node set never move again — per iteration the only
    # full shuffle is the contribution aggregation. Left unset, AQE
    # plans each round independently, which measures faster on small
    # graphs where the pinned exchange's fixed cost dominates.
    nodes = (
        e.select("src")
        .unionByName(e.select(F.col("dst").alias("src")))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # out-degree rides along with each edge so the per-iteration join
    # touches exactly one big table
    edeg = e.join(deg, "src")
    if prepartition:
        nodes = nodes.repartition(prepartition, "node")
        edeg = edeg.repartition(prepartition, "src")
    nodes = nodes.localCheckpoint(eager=False)
    edeg = edeg.localCheckpoint(eager=False)

    ranks = nodes.withColumn("rank", F.lit(scale).cast("bigint"))
    for i in range(iterations):
        contrib = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select("dst", F.expr("rank DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({damping_num} * coalesce(contrib, CAST(0 AS BIGINT)))"
                    f" DIV {damping_den}"
                )
            ).cast("bigint").alias("rank"),
        )
        # truncate lineage every few rounds: iterative joins otherwise
        # stack a plan that grows per round and re-executes on failure
        # (same discipline as operators/clusters.py). Not every round —
        # each materialized checkpoint is one whole job, and a 3-deep
        # join plan is still cheap for Catalyst (measured 4.3s -> 2.6s
        # for 5 iterations at sf0.1 moving from every-1 to every-3).
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def in_degrees(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """``node, in_deg`` for every vertex (zero-filled for sources that
    are never a destination) — the cheap companion signal to pagerank."""
    e = edges.select(
        F.col(src_col).cast("bigint").alias("src"),
        F.col(dst_col).cast("bigint").alias("dst"),
    )
    nodes = (
        e.select("src")
        .unionByName(e.select(F.col("dst").alias("src")))
        .distinct()
        .select(F.col("src").alias("node"))
    )
    ind = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return nodes.join(ind, "node", "left").select(
        "node", F.coalesce("in_deg", F.lit(0).cast("bigint")).alias("in_deg")
    )


def triangle_counts(
    pairs: DataFrame, src_col: str = "id_a", dst_col: str = "id_b"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list — the clustering-structure signal (dup groups are near-cliques
    and score high; chains score zero).

    Algorithm: degree-based edge orientation (Suri & Vassilvitskii,
    WWW'11, public) — direct every edge from its lower-(degree, id)
    endpoint to the higher one, join oriented edges on their source to
    enumerate wedges, then close each wedge against the oriented edge
    set. Each triangle is produced EXACTLY once, and wedge fan-out is
    bounded by the oriented out-degree (O(sqrt(|E|)) for any graph),
    which is what keeps high-degree hubs from exploding at 100 TB.

    Output: ``node, n_triangles`` (nodes in no triangle are omitted).
    """
    e = (
        pairs.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    # orient low-(degree, id) -> high-(degree, id)
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v")),
    ).select(
        F.col("o1.u").alias("w1"), F.col("o1.v").alias("w2"), F.col("o2.v").alias("w3")
    )
    # close the wedge: (w2, w3) must be an edge in EITHER orientation
    closer = oriented.select(
        F.least("u", "v").alias("ca"), F.greatest("u", "v").alias("cb")
    )
    tris = wedges.join(
        closer,
        (F.least("w2", "w3") == F.col("ca")) & (F.greatest("w2", "w3") == F.col("cb")),
    ).select("w1", "w2", "w3")
    return (
        tris.select(F.explode(F.array("w1", "w2", "w3")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def neighborhood_overlap(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbor and Jaccard link scores for every vertex pair
    sharing >= ``min_common`` neighbors — the classic link-prediction
    / community-strength signal (Liben-Nowell & Kleinberg CIKM'03,
    public; the "embeddedness" of Easley-Kleinberg).

    Spark-first shape: undirected edges canonicalize and dedupe once;
    candidate pairs come from a WEDGE join (both edge lists keyed on
    the shared neighbor — never an all-pairs cross join, the triangle-
    counting fan-out shape); degrees are a |V|-row aggregate broadcast
    back onto the pair frame. Jaccard = common / (deg_a + deg_b −
    common): one double division of exact bigints, round 6.

    Output: ``a, b, common, deg_a, deg_b, jaccard`` with ``a < b``.
    """
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    # symmetric adjacency: each undirected edge as (node, neighbor)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # wedge join on the shared neighbor: pairs (a, b) with a < b
    left = adj.select(F.col("nbr").alias("_w"), F.col("node").alias("a"))
    right = adj.select(F.col("nbr").alias("_w"), F.col("node").alias("b"))
    pairs = (
        left.join(right, "_w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    out = (
        pairs.join(
            F.broadcast(deg.withColumnsRenamed({"node": "a", "deg": "deg_a"})), "a"
        )
        .join(
            F.broadcast(deg.withColumnsRenamed({"node": "b", "deg": "deg_b"})), "b"
        )
    )
    union_n = F.col("deg_a") + F.col("deg_b") - F.col("common")
    return out.select(
        "a",
        "b",
        "common",
        "deg_a",
        "deg_b",
        F.round(F.col("common").cast("double") / union_n.cast("double"), 6).alias(
            "jaccard"
        ),
    )


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-depth BFS from a seed set: every vertex reachable within
    ``max_depth`` hops, labeled with its MINIMUM hop distance — the
    blast-radius / influence-frontier traversal (lineage impact,
    contamination spread, k-hop ego networks).

    Spark-first shape: ``max_depth`` rounds of (frontier ⋈ edges) —
    each round one equi-join keyed on the edge source plus an anti-join
    against the visited set; the frontier is localCheckpointed per
    round so lineage stays flat (the clusters/pagerank discipline).
    Work per round is |frontier-out-edges|, never |V|²; depth is a
    CONSTANT of the query, so the whole traversal is max_depth joins.

    Output: ``node, depth`` (seeds at depth 0; minimum distance wins).
    """
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct()
    visited = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("bigint"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited


def cheapest_paths_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
) -> DataFrame:
    """Bounded Bellman-Ford: the minimum path COST from a seed set to
    every vertex reachable within ``max_hops`` weighted hops — the
    weighted twin of :func:`bfs_depths` (supply-chain landed cost,
    latency radius, cheapest influence path).

    Spark-first shape: ``max_hops`` min-plus relaxation rounds, each
    ONE equi-join of the current best-dist table against the edges
    plus one min-aggregate, localCheckpointed per round (flat
    lineage). Work per round is |dist-out-edges|; hops are a CONSTANT
    of the query. Weights are exact NON-NEGATIVE bigints, so costs
    are exact integers and min() is order-free.

    Output: ``node, cost`` — the exact minimum path weight (seeds at
    cost 0). Hop counts are deliberately NOT emitted: under best-
    prefix relaxation the hop count of a cost-tied path is not well-
    defined (the min-hop min-cost path may ride a suboptimal-cost
    prefix the relaxation prunes), so certifying it would certify an
    implementation artifact.
    """
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).cast("bigint").alias("_w"),
    )
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_hops):
        relaxed = dist.join(e, dist["node"] == e["_s"]).select(
            F.col("_d").alias("node"),
            (F.col("cost") + F.col("_w")).alias("cost"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=False)
        )
    return dist


def cheapest_paths_bounded_sql(
    edges_sql: str,
    seeds_sql: str,
    max_hops: int,
) -> str:
    """DuckDB mirror of :func:`cheapest_paths_bounded` — enumerates
    every path of ≤ max_hops hops via a bounded recursive CTE carrying
    (node, cost, hops), then takes the min cost per node. The UNION
    dedups repeated states so cycles cannot multiply rows; expects
    ``edges_sql`` to yield (src, dst, w) and ``seeds_sql`` (node)."""
    return f"""
WITH RECURSIVE _walk(node, cost, hops) AS (
    SELECT node, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM (SELECT node FROM ({seeds_sql}) t)
    UNION
    SELECT e.dst, w.cost + e.w, w.hops + 1
    FROM _walk w JOIN ({edges_sql}) e ON e.src = w.node
    WHERE w.hops < {max_hops}
)
SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM _walk GROUP BY node
"""


def kcore_membership(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peel (Seidman 1983, public): repeatedly delete vertices
    of degree < k until none remain; the surviving subgraph is the
    k-core — the dense-backbone extraction behind spam-subgraph
    isolation, community seeding, and graph-based corpus curation
    (near-clique dup groups survive, sparse link chains peel away).

    A FIXED number of peel ``rounds`` (the pagerank fixed-iteration
    discipline — the DuckDB oracle replays the identical rounds as
    nested CTEs, so results hash-match whether or not the peel has
    converged; pick rounds ≥ the graph's observed peel depth and the
    result IS the exact k-core, which a drained extra round certifies:
    a converged peel is a fixpoint, so extra rounds are no-ops). Each
    round is one degree aggregate + two semi-joins keyed on the edge
    endpoints — work ∝ |E| per round, never |V|².

    Expects a SIMPLE SYMMETRIZED graph: both directions present (as
    :func:`pagerank`'s callers build), no self-loops, no duplicate
    edges — degree is then the out-degree. Self-loops or duplicates
    WOULD inflate degrees and deviate from the textbook k-core (the
    DuckDB mirror deviates identically, so gates stay consistent, but
    the answer would be wrong for such inputs); callers with raw edge
    lists must ``filter(src != dst).distinct()`` first — kept out of
    this operator so already-simple pipelines don't pay an extra |E|
    shuffle per call.
    Output: ``node, deg_core`` — surviving vertices with their degree
    INSIDE the core after the last round.
    """
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    for _ in range(rounds):
        alive = (
            e.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("_s")
        )
        e = (
            e.join(alive, "_s", "left_semi")
            .join(alive.select(F.col("_s").alias("_d")), "_d", "left_semi")
            .localCheckpoint(eager=False)  # keep the per-round lineage flat
        )
    return e.groupBy(F.col("_s").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg_core")
    )


def kcore_membership_sql(
    edges_sql: str,
    k: int,
    rounds: int,
) -> str:
    """DuckDB mirror of :func:`kcore_membership` — the identical fixed
    peel rounds as nested CTEs (edges must be symmetrized)."""
    ctes = [f"_kc0 AS (SELECT src AS _s, dst AS _d FROM ({edges_sql}))"]
    for r in range(1, rounds + 1):
        prev = f"_kc{r - 1}"
        ctes.append(
            f"_ka{r} AS (SELECT _s FROM {prev} GROUP BY _s "
            f"HAVING count(*) >= {k})"
        )
        ctes.append(
            f"_kc{r} AS (SELECT e._s, e._d FROM {prev} e "
            f"JOIN _ka{r} a ON e._s = a._s "
            f"JOIN _ka{r} b ON e._d = b._s)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT _s AS node, CAST(count(*) AS BIGINT) AS deg_core "
        f"FROM _kc{rounds} GROUP BY _s"
    )
