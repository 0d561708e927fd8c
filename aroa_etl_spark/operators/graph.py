"""Link-analysis operators: fixed-point PageRank.

Connected components live in operators/clustering.py; this module adds
PageRank (Page et al. 1999) in EXACT integer arithmetic: ranks are
fixed-point BIGINTs at scale 1e12, per-edge contributions use integer
division, and the damping factor is a rational (17/20 = 0.85). Integer
sums are order-independent, so the result is deterministic across
partitionings and engines — the same fixed-point trick the embedding
centroid operator uses, applied to an iterative algorithm. (Float
PageRank would be nondeterministic in the last ulps under Spark's
unordered aggregation.)

Plan shape per iteration: one hash join (edges ⋈ ranks on src — outdeg
is pre-folded into the edge frame once) and one map-side-combinable
groupBy on dst, then a left join back to the node set for dangling
nodes. Lineage grows linearly with iterations; for long runs pass
``checkpoint_every`` to cut it with an eager localCheckpoint (the same
pattern as the star rounds of connected_components, clustering.py).

Dangling-node mass (nodes with no out-edges) is dropped, not
redistributed — ranks then need no global renormalization pass and stay
deterministic; document this when comparing against textbook PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]

SCALE = 1_000_000_000_000  # 1e12 fixed-point rank units


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    checkpoint_every: int = 0,
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous iterations; rank is a
    BIGINT in 1e-12 units summing (minus dangling/rounding loss) to
    ~1e12. Duplicate edges should be deduped by the caller if unwanted —
    they are counted as parallel edges here."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_w = e.join(outdeg, "src")  # deg folded in ONCE, reused every iter
    n_frame = nodes.agg(F.count(F.lit(1)).alias("n"))

    teleport_num = damping_den - damping_num
    ranks = nodes.crossJoin(n_frame).select(
        "node", F.expr(f"{SCALE} div n").alias("rank")
    )
    for i in range(1, iters + 1):
        contribs = (
            edges_w.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("rank div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(n_frame)
            .select(
                "node",
                F.expr(
                    f"(({SCALE} * {teleport_num} div {damping_den}) div n)"
                    f" + (coalesce(s, 0) * {damping_num} div {damping_den})"
                ).alias("rank"),
            )
        )
        if checkpoint_every and i % checkpoint_every == 0 and i < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count (single-row ``(n_edges, n_triangles)``)
    over an UNDIRECTED graph given as (possibly duplicated, either-
    direction) edge pairs; self-loops dropped.

    Uses the degree-ordered orientation (Chiba–Nishizeki / the
    "forward" algorithm): orient every edge from its (degree, id)-lower
    endpoint to the higher one — a DAG where each triangle appears as
    EXACTLY ONE wedge (a→b, a→c) closed by the oriented edge b→c. Work
    is O(m^1.5) instead of O(Σ deg²): hub vertices have almost no
    out-edges after orientation, so the wedge self-join on the source
    never explodes on skewed degree distributions — the property that
    makes this viable on a power-law 100 TB graph. Plan: degree
    aggregation + two hash joins, all map-side-combinable counts.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n")).unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
            )
            .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.t").alias("t"))
    )
    w1 = ranked.select(F.col("s"), F.col("t").alias("b"))
    w2 = ranked.select(F.col("s"), F.col("t").alias("c"))
    wedges = w1.join(w2, "s").filter(F.col("b") < F.col("c"))
    # wedge (s; b, c) closes iff the oriented edge between b and c exists
    # (either orientation — b<c is id order, orientation is degree order)
    closing = ranked.select(
        F.least("s", "t").alias("b"), F.greatest("s", "t").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return ne.crossJoin(tri)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    *,
    src: str = "src",
    dst: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """Exact hop distances (node, dist) from a seed set, bounded at
    ``max_hops`` — multi-source BFS as the classic frontier expansion:
    per hop one equi-join of the frontier onto the edge list + one
    anti-join against the visited set (both keyed shuffles, nothing
    global).  The unreached remainder is simply absent from the output
    (dist would be > max_hops), so the result is the k-hop
    neighborhood — the primitive behind "within N links of these
    domains" crawl scoping and feature extraction on entity graphs.

    ``seeds`` is a 1-column (node) frame.  Distances are exact and
    deterministic: a node enters the output at the FIRST hop that
    reaches it, and set semantics (distinct/anti-join) make the result
    independent of edge order and partitioning.

    Persist discipline (the connected_components contract,
    clustering.py): the symmetric edge projection and every hop
    frontier persist for the loop — WITHOUT this the lazy plan
    re-derives the edge frame once per hop — the per-hop frontier is
    forced eagerly, and all internal persists are released before
    returning a result materialized via eager localCheckpoint.
    The edge list is deliberately NOT deduplicated: the per-hop
    ``reached.distinct()`` (over the frontier's neighborhood only)
    already absorbs duplicate edges, and a whole-graph distinct is a
    full extra shuffle that measured as HALF this walk's cost."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.union(
            edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        )
    e = e.persist()
    cached = [e]
    node_col = seeds.columns[0]
    frontier = seeds.select(F.col(node_col).alias("node")).distinct().persist()
    cached.append(frontier)
    visited = frontier
    out = frontier.withColumn("dist", F.lit(0).cast("int"))
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = reached.join(visited, "node", "left_anti").persist()
        cached.append(frontier)
        # JVM-side emptiness probe (df.rdd.isEmpty() would route every
        # frontier through Python-RDD serialization — measured ~4x the
        # whole walk's cost); also forces the persisted frontier
        if frontier.limit(1).count() == 0:
            break
        # frontier is distinct AND disjoint from visited (the anti-join
        # above) — plain union keeps the set property without paying
        # another distinct shuffle per hop; both sides are persisted
        # pieces, so the growing union is cheap to rescan
        visited = visited.union(frontier)
        out = out.union(frontier.withColumn("dist", F.lit(h).cast("int")))
    result = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return result
