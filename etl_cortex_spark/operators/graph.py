"""Distributed graph ranking: weighted PageRank as pure DataFrame
iterations.

Completes the graph family started by ``dedup.connected_components``
(min-label propagation): PageRank is the other canonical iterative
join-agg pattern, and the shape a 100 TB link/citation/trade graph
actually runs.

Scale design — everything stays distributed:
- The rank vector is a DataFrame keyed by node (NOT driver-side
  state, unlike k-means' k×dim centroid model): at web scale it is
  billions of rows, partitioned by node id.
- Per iteration: one (rank ⋈ edges on src) shuffle join + one dst
  agg; the dangling-node mass and the node count ride as broadcast
  1-row aggregates (no ``collect``).
- Edge fractions (w / out-degree) are precomputed once and persisted;
  iterations reuse the same partitioning on src.
- Fixed iteration count keeps the result deterministic and
  oracle-checkable (the oracle unrolls the identical iterations as
  CTEs from a shared generator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_cortex_spark.operators.caching import track
from etl_cortex_spark.operators.localframe import local_df


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node_col: str = "node",
    persist: bool = True,
) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution; returns
    (node, pr) after ``iters`` synchronous iterations from the
    uniform start vector.

    ``persist`` caches the edge-fraction frame every iteration reads
    (MEMORY_AND_DISK); pass False in long-lived sessions that manage
    their own caching, or drop it afterwards via
    ``spark.catalog.clearCache()``."""
    from pyspark import StorageLevel

    out_w = edges.groupBy(src).agg(F.sum(weight).alias("__ow"))
    frac = edges.join(out_w, src).select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        (F.col(weight) / F.col("__ow")).alias("__frac"),
    )
    if persist:
        frac = track(frac.persist(StorageLevel.MEMORY_AND_DISK))
    srcs = frac.select(F.col("__src").alias(node_col)).distinct()
    n_frame = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))

    ranks = nodes.select(node_col).crossJoin(F.broadcast(n_frame)).select(
        node_col, (F.lit(1.0) / F.col("__n")).alias("pr")
    )
    for it in range(iters):
        # Join lineage nests once per iteration; truncate it every few
        # rounds exactly like dedup.connected_components does, so a
        # deep fit doesn't re-execute the whole chain per action (on a
        # cluster with a checkpoint dir, checkpoint() is the
        # fault-tolerant equivalent).
        if it > 0 and it % 5 == 0:
            ranks = ranks.localCheckpoint(eager=True)
        dangling = (
            ranks.join(srcs, node_col, "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("__m"))
        )
        inflow = (
            ranks.join(frac, ranks[node_col] == frac["__src"])
            .groupBy("__dst")
            .agg(F.sum(F.col("pr") * F.col("__frac")).alias("__in"))
        )
        ranks = (
            nodes.select(node_col)
            .join(inflow, F.col(node_col) == F.col("__dst"), "left")
            .crossJoin(F.broadcast(dangling))
            .crossJoin(F.broadcast(n_frame))
            .select(
                node_col,
                (
                    (1.0 - damping) / F.col("__n")
                    + damping
                    * (F.coalesce(F.col("__in"), F.lit(0.0)) + F.col("__m") / F.col("__n"))
                ).alias("pr"),
            )
        )
    return ranks


def pagerank_unrolled_sql(
    edges_sql: str,
    nodes_sql: str,
    *,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """The identical computation as a DuckDB WITH-chain (oracle twin).
    ``edges_sql`` must yield (src, dst, w); ``nodes_sql`` must yield
    (node)."""
    d = damping
    parts = [
        f"ed AS ({edges_sql})",
        f"nodes AS ({nodes_sql})",
        "ow AS (SELECT src, sum(w) AS ow FROM ed GROUP BY src)",
        "e AS (SELECT ed.src, ed.dst, CAST(ed.w AS DOUBLE) / ow.ow AS frac"
        "      FROM ed JOIN ow USING (src))",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT COALESCE(sum(pr), 0.0) AS m FROM p{i} "
            f"WHERE node NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"p{i + 1} AS (SELECT n.node, "
            f"{1.0 - d} / (SELECT n FROM nn) + {d} * (COALESCE(s.inflow, 0.0) "
            f"+ (SELECT m FROM d{i}) / (SELECT n FROM nn)) AS pr "
            f"FROM nodes n LEFT JOIN (SELECT e.dst, sum(p.pr * e.frac) AS inflow "
            f"FROM p{i} p JOIN e ON p.node = e.src GROUP BY e.dst) s "
            f"ON n.node = s.dst)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, pr FROM p{iters}"


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as (a, b) with ``a < b``: both directions
    deduped, self-loops dropped."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )


def oriented_edges(
    und: DataFrame, *, by_degree: bool = False
) -> DataFrame:
    """Orient each undirected edge (a, b) from the smaller to the
    larger endpoint under a TOTAL order, returning (u, v, rv) where
    ``rv`` is v's rank tuple encoded so wedges can compare endpoints:

    - id-ordering: u < v by node id; ``rv`` is (0, v).
    - degree-ordering (``by_degree=True``): u precedes v under
      (degree, id) ascending; ``rv`` is (deg(v), v). One extra
      degree aggregation + two broadcast-or-shuffle joins, paid once.

    Degree-ordering is the skew bound: every triangle is charged to
    its LOWEST-degree vertex, so the wedge join size drops from
    Σ deg(v)² to O(m·arboricity) (Schank/Wagner forward algorithm;
    cf. Suri & Vassilvitskii, WWW'11) — on a star graph the hub
    generates C(n,2) wedges under id-ordering and 0 under
    degree-ordering. The enumerated triangle set is identical either
    way (any total order names each triangle exactly once).
    """
    if not by_degree:
        return und.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.lit(0).cast("long").alias("rv_deg"),
            F.col("b").alias("rv_id"),
        )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    with_deg = (
        und.join(da, und["a"] == F.col("da.node"))
        .join(db, und["b"] == F.col("db.node"))
        .select(
            "a", "b", F.col("da.deg").alias("dega"), F.col("db.deg").alias("degb")
        )
    )
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("rv_deg"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("rv_id"),
    )


def triangle_wedges(oriented: DataFrame) -> DataFrame:
    """Candidate wedges (x, y, z): both (x,y) and (x,z) are oriented
    out-edges of x and y precedes z in the orientation's total order.
    Exposed separately so tests can measure the wedge-join size — the
    hot spot whose bound the orientation choice controls."""
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    return (
        e1.join(e2, F.col("e1.u") == F.col("e2.u"))
        .filter(
            (F.col("e1.rv_deg") < F.col("e2.rv_deg"))
            | (
                (F.col("e1.rv_deg") == F.col("e2.rv_deg"))
                & (F.col("e1.rv_id") < F.col("e2.rv_id"))
            )
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    order_by_degree: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts via the join-based
    enumeration every distributed engine uses (no per-node adjacency
    materialization):

    1. canonicalize to undirected edges (dedup both directions, drop
       self-loops) and ORIENT them under a total order — node id by
       default, (degree, id) with ``order_by_degree=True``;
    2. wedge join: the two out-edges (x,y), (x,z) of each node x with
       y ≺ z enumerate each candidate exactly once;
    3. closure join against the oriented edge (y,z) keeps actual
       triangles.

    Scale: the wedge join is the hot spot — Σ deg(v)² under
    id-ordering, O(m·arboricity) under degree-ordering
    (``order_by_degree=True``), which is the variant a power-law
    graph needs: a single hub of degree d contributes C(d, 2) wedges
    under id-ordering and 0 under degree-ordering. The enumerated
    triangle SET is identical either way (pinned by pytest on a
    star+clique fixture and by the oracle hash-check). The corner
    explosion reads the triangle frame ONCE (explode over the corner
    array — a union of three selects would re-execute the wedge join
    per branch, since Spark does not share subplans across union
    arms). Returns (node, n_triangles), nodes in ≥1 triangle only.
    """
    und = _canonical_edges(edges, src, dst)
    e = oriented_edges(und, by_degree=order_by_degree)
    e3 = e.alias("e3")
    tri = (
        triangle_wedges(e)
        .join(
            e3,
            (F.col("e3.u") == F.col("y")) & (F.col("e3.v") == F.col("z")),
            "left_semi",
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


# --- deterministic label propagation (community detection) --------------------


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Synchronous weighted Label Propagation (Raghavan et al. 2007,
    the deterministic synchronous variant): every node starts labeled
    with its own id; each round every node adopts the label with the
    largest total incident edge weight among its neighbors' CURRENT
    labels, ties broken by the smallest label; isolated nodes keep
    theirs. A FIXED iteration count and the total tiebreak make the
    run bit-deterministic — the classic asynchronous LPA is not — so
    the oracle unrolls the identical rounds as CTEs
    (``lpa_unrolled_sql``).

    Scale shape per round: one join of the (undirected) edge list
    against the label vector + a (node, label) partial-combined
    weight agg + a per-node argmax via max_by — two keyed shuffles,
    both carrying (id, label, weight) only; labels stay a DataFrame
    end-to-end (billions of nodes fine), lineage truncated per round.
    """
    und = (
        edges.select("src", "dst", "w")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .localCheckpoint()
    )
    node_col = nodes.columns[0]
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("label")
    )
    for _ in range(iters):
        votes = (
            und.join(labels, und["dst"] == labels["node"])
            .groupBy(F.col("src").alias("u"), "label")
            .agg(F.sum("w").alias("wt"))
        )
        best = votes.groupBy("u").agg(
            F.max_by("label", F.struct(F.col("wt"), -F.col("label"))).alias(
                "__new"
            )
        )
        labels = (
            labels.join(best, labels["node"] == best["u"], "left")
            .select("node", F.coalesce("__new", "label").alias("label"))
            .localCheckpoint()
        )
    return labels


def lpa_unrolled_sql(edges_sql: str, nodes_sql: str, *, iters: int = 3) -> str:
    """The identical LPA rounds as a DuckDB WITH-chain (oracle twin).
    ``edges_sql`` must yield (src, dst, w); ``nodes_sql`` (node)."""
    parts = [
        f"ed AS ({edges_sql})",
        f"nodes AS ({nodes_sql})",
        "und AS (SELECT src, dst, w FROM ed UNION ALL SELECT dst, src, w FROM ed)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"v{i} AS (SELECT und.src AS u, l.label, sum(und.w) AS wt "
            f"FROM und JOIN l{i} l ON und.dst = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"b{i} AS (SELECT u, label FROM ("
            f"SELECT u, label, row_number() OVER "
            f"(PARTITION BY u ORDER BY wt DESC, label) AS rk FROM v{i}) WHERE rk = 1)"
        )
        parts.append(
            f"l{i + 1} AS (SELECT l.node, COALESCE(b.label, l.label) AS label "
            f"FROM l{i} l LEFT JOIN b{i} b ON l.node = b.u)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT node, label FROM l{iters} ORDER BY node"
    )


def bfs_hops(
    edges: DataFrame,
    source: int,
    max_iter: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source shortest HOPS (unweighted BFS, round 11 — the
    classic graph primitive the family lacked next to PageRank /
    connected components / label propagation / triangles): frontier
    expansion as joins, one round per hop level. Returns (node, hops)
    for every REACHABLE node, source included at 0.

    Scale design: state is the visited set (node, hops) plus the
    current frontier — both DataFrames, never driver-side; each round
    is one frontier⋈edges shuffle + an anti-join against visited +
    one distinct. Rounds needed = eccentricity of the source, bounded
    by ``max_iter`` (exhaustion raises — a silent partial BFS would
    read as "unreachable"). ``localCheckpoint`` truncates the
    per-round lineage exactly like ``connected_components``; the
    convergence probe is one empty-frontier check per round (bounded
    driver state).
    """
    fwd = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    edges2 = fwd.unionByName(
        edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d"))
    ).localCheckpoint()
    spark = edges.sparkSession
    visited = local_df(spark, [(source, 0)], "node bigint, hops int")
    frontier = visited.select("node").localCheckpoint()
    visited = visited.localCheckpoint()
    for depth in range(1, max_iter + 1):
        nxt = (
            edges2.join(frontier, edges2["__s"] == frontier["node"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            return visited
        visited = visited.unionByName(
            nxt.select("node", F.lit(depth).cast("int").alias("hops"))
        ).localCheckpoint()
        frontier = nxt
    raise RuntimeError(
        f"bfs_hops did not exhaust the component in max_iter={max_iter} "
        f"rounds — the graph has an eccentricity above max_iter; raise it."
    )


def directed_3cycles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Count DIRECTED 3-cycles (a→b→c→a) — the transitivity-violation
    audit for preference/tournament data (round 13: an RLHF judgment
    set with cycles cannot be explained by ANY scalar reward, so the
    cycle count is the annotation-consistency metric to gate on before
    DPO training). Each cycle is counted exactly once by anchoring on
    its unique smallest node (a < b AND a < c). Three self-joins on
    the (deduped) edge list — at scale the same degree-based orienting
    trick as `triangle_count` applies if hubs appear; preference sets
    are per-prompt tiny, so the plain join is the right default.
    Returns one row: (n_edges, n_cycles)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    cycles = (
        e1.join(e2, F.col("e1.d") == F.col("e2.s"))
        .join(
            e3,
            (F.col("e2.d") == F.col("e3.s"))
            & (F.col("e3.d") == F.col("e1.s")),
        )
        .filter(
            (F.col("e1.s") < F.col("e2.s")) & (F.col("e1.s") < F.col("e3.s"))
        )
    )
    return e.groupBy().agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        F.broadcast(
            cycles.groupBy().agg(F.count(F.lit(1)).alias("n_cycles"))
        )
    )
