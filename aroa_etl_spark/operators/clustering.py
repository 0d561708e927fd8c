"""Person entity clustering (SURVEY §2 EP2, J7, M8; reference
person_matching/person_clustering.py + scripts/clustering-container).

Spark architecture — the reference's sequential greedy sweep
(person_clustering.py:224-276) is order-dependent and single-threaded;
the scale path here is:

1. Candidate pairs: explode ``(prefix, len-band)`` block keys for
   first+last name, self-join, fname-bucket ∩ lname-bucket — same
   blocking as cross-dataset matching (person_clustering.py:157-166).
2. Score pairs with ``person_similarity`` (Arrow pandas_udf); keep
   edges with score ≥ cutoff.
3. Pre-cluster edges: rows sharing an identical non-empty prisoner
   number are linked unconditionally (run_clustering.py:105-110) —
   built as star edges to the group minimum (linear, not quadratic).
4. Connected components (``connected_components``): the edge list is
   materialized once; an edge list that fits on the driver (the
   planner's own broadcast test) is resolved there by a vectorized
   union-find, a larger one by distributed min-label propagation.
   Person graphs are name-blocked, so their edge lists are small next
   to the mentions they link, and a dozen eager jobs per propagation
   run would cost more than the data.
5. ``Person_Entity_ID`` = dense rank of the component root — stable,
   deterministic (SURVEY §7 risk 3: no nondeterministic UUIDs).

Documented divergence (SURVEY §7 risk 2): connected components =
single linkage. The reference's ``linkage='max'`` greedy sweep can
split chains that CC merges; ``greedy_block_clustering`` below runs
the reference-faithful greedy algorithm *inside each connected
component* via applyInPandas for callers that need max/average
linkage semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aroa_etl_spark.functions.simkernels import person_similarity
from aroa_etl_spark.functions.vocab import has_value
from aroa_etl_spark.operators.matching import _score_udf, candidate_pairs

# Cached plans compile without AQE partition coalescing unless this
# session flag is on; the iterative loops below persist per-round
# frames, so they enable it for their lifetime (details in
# connected_components' docstring).  Module switch for A/B harnesses.
_AQE_CACHE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_AQE_CACHE_ON = True

# Size of one edge row in the "fits on the driver" test: two 8-byte ids.
_EDGE_BYTES = 16


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    dedup_edges: bool = False,
    checkpoint_every: int = 5,
    num_partitions: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list → (node, component)
    where component is the minimum node id in the component.

    Self-loops and edges with a NULL id are dropped, so a node appears
    only if it has an edge to another node (no isolated nodes). The id
    type of the input is kept; string ids are ordered by code point,
    which is Spark's UTF-8 byte order.

    The edge list is materialized exactly once, as an eager local
    checkpoint whose row count rides the same job as an Observation.
    Then one of two paths finishes the job:

    - **driver**: when ``rows × 16 B`` is at most the session's
      ``spark.sql.autoBroadcastJoinThreshold`` — the test the planner
      uses to decide that a relation fits on the driver for a broadcast
      join — the edges are collected with ``toArrow()`` and resolved by
      a vectorized union-find (``np.unique`` dense ids, ``np.minimum.at``
      root hooking, pointer jumping). The answer comes back through
      ``createDataFrame``: one job for the whole fixpoint instead of a
      job per propagation round, each of which pays driver-side
      planning on a lineage that grows every round. ``max_iter`` does
      not apply: the driver always reaches the fixpoint. Ids other than
      integers and plain (non-collated) strings take the rounds path.
    - **rounds**: otherwise (and always under a threshold of ``-1``,
      Spark's "never broadcast"), distributed min-label propagation
      from the checkpoint, described below.

    Min-label propagation: each round every node takes the minimum label
    among itself and its neighbors — ONE join + union + aggregation per
    round (the self-label rides the union, so no second join to merge it
    back). Convergence detection free-rides on monotonicity: labels only
    ever decrease, so the label SUM strictly decreases until the
    fixpoint — equality of consecutive sums terminates (computed as
    decimal so planet-scale id sums can't overflow a long; ids that are
    not integers sum a 64-bit hash of each (node, label) pair). Converges in
    O(diameter) rounds; ``max_iter`` caps them, so raise it for
    adversarial graphs (or use :func:`connected_components_star`).

    Shuffle budget of a round:

    - round 1 is FUSED into label init — ``min(self, neighbors)`` is one
      aggregation over the edge list, no join;
    - the symmetric edge list is persisted pre-partitioned on the join
      key and every round's labels come out of a ``groupBy(node)``
      persisted WITH their partitioning (persist, unlike a checkpoint,
      keeps outputPartitioning visible to Catalyst), so each round
      shuffles only the propagated labels, not the edges;
    - ``dedup_edges=False`` by default: min() absorbs duplicate edges,
      so the distinct shuffle is pure overhead unless the input carries
      heavy multi-edges;
    - every ``checkpoint_every`` rounds the lineage is cut so plans
      don't grow unboundedly on adversarial-diameter graphs.

    All internal persists are released before returning; the rounds
    result is an eager local checkpoint that owns its blocks
    (ContextCleaner frees them when the frame is unreferenced).

    ``num_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    call's lifetime (restored on exit), so the edge derivation upstream
    (materialized by the checkpoint) and every round shuffle at that
    width. Labels are (node, label) pairs, tiny next to the data they
    describe, so a session-wide shuffle width (e.g. 200 under a plain
    driver session) schedules mostly-empty tasks every round; size it to
    ~nodes×16 bytes / 64 MB, floored at the cluster's default
    parallelism. ``None`` (default) leaves the session conf alone.

    The call also enables
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` for
    its lifetime (restored on exit): every round persists a labels
    frame, and with the flag at its default (false) cached plans
    compile WITHOUT AQE partition coalescing, so each round's tiny
    label shuffle materializes at the full pinned width — dozens of
    near-empty tasks per round whose scheduling dominates small/medium
    graphs. With the flag on, AQE sizes every round by the 64 MB
    advisory instead — width follows the data at any scale (guide §2.2
    fewer-larger partitions; no constant tuned to either local mode or
    a cluster).

    ``stats`` (optional dict) receives ``path`` (``"driver"`` or
    ``"rounds"``), ``edges`` (edge rows after dropping self-loops and
    NULL ids) and ``rounds`` (union-find hooking rounds on the driver,
    propagation rounds including the fused first one otherwise).
    """
    spark = edges.sparkSession
    stats = {} if stats is None else stats
    conf_before: str | None = None
    aqe_before = spark.conf.get(_AQE_CACHE, "false")
    if num_partitions is not None:
        conf_before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    spark.conf.set(_AQE_CACHE, "true" if _AQE_CACHE_ON else aqe_before)
    ck = None
    try:
        ck, n_edges = _edge_checkpoint(edges, src, dst)
        stats["edges"] = n_edges
        id_type = ck.schema["a"].dataType
        driver_ok = isinstance(id_type, T.IntegralType) or id_type == T.StringType()
        # the threshold in bytes as the planner reads it (-1: never broadcast)
        threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        if driver_ok and n_edges * _EDGE_BYTES <= threshold:
            stats["path"] = "driver"
            return _components_on_driver(ck, stats)
        stats["path"] = "rounds"
        return _propagation_rounds(ck, max_iter, dedup_edges, checkpoint_every, stats)
    finally:
        if ck is not None:
            # both results are materialized without it: free its blocks
            # now, not whenever a JVM GC lets the ContextCleaner run
            ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
        spark.conf.set(_AQE_CACHE, aqe_before)
        if conf_before is not None:
            spark.conf.set("spark.sql.shuffle.partitions", conf_before)


def _edge_checkpoint(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, int]:
    """(a, b) edges with a < b, materialized once → (checkpoint, rows).
    ``src != dst`` drops self-loops and, being NULL on a NULL id, NULL
    ids; least/greatest give both ids one common type."""
    obs = Observation()
    ck = (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return ck, obs.get["n"]


def _components_on_driver(ck: DataFrame, stats: dict) -> DataFrame:
    table = ck.toArrow()
    id_type = table.schema.field("a").type
    a = table.column("a").to_numpy(zero_copy_only=False)
    b = table.column("b").to_numpy(zero_copy_only=False)
    # sorted unique ids: dense id order IS id order (code point order
    # for str), so the minimum dense id of a component is its min id
    ids, dense = np.unique(np.concatenate([a, b]), return_inverse=True)
    root = _union_find(dense[: len(a)], dense[len(a):], len(ids), stats)
    out = pa.table(
        {"node": pa.array(ids, id_type), "component": pa.array(ids[root], id_type)}
    )
    return ck.sparkSession.createDataFrame(out)


def _union_find(u: np.ndarray, v: np.ndarray, n: int, stats: dict) -> np.ndarray:
    """Root of every dense id 0..n-1 for the undirected edges (u, v); the
    root of a component is its smallest id.

    Every node points at a node no larger than itself, so pointers never
    form a cycle. A round hooks the two roots of every edge whose ends
    still have different roots onto the smaller of the two
    (``np.minimum.at`` resolves concurrent hooks of one root to the
    minimum), then pointer-jumps until every node points at its root.
    Edges whose ends share a root never split again, so each round works
    only on the edges still live."""
    parent = np.arange(n)
    rounds = 0
    while True:
        ru, rv = parent[u], parent[v]
        live = ru != rv
        if not live.any():
            break
        rounds += 1
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        lo = np.minimum(ru, rv)
        np.minimum.at(parent, ru, lo)
        np.minimum.at(parent, rv, lo)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    stats["rounds"] = rounds
    return parent


def _propagation_rounds(
    ck: DataFrame,
    max_iter: int,
    dedup_edges: bool,
    checkpoint_every: int,
    stats: dict,
) -> DataFrame:
    # symmetrize in one pass over the checkpoint: explode(array(fwd, rev))
    sym = ck.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("__e")
    ).select("__e.a", "__e.b")
    if dedup_edges:
        sym = sym.distinct()
    sym = sym.repartition("b").persist()

    # convergence witness: labels only decrease, so integer labels have
    # an exact one in their sum; other ids sum a 64-bit hash of every
    # (node, label) pair, the set-identity witness of the star variant
    if isinstance(ck.schema["a"].dataType, T.IntegralType):
        witness = F.col("label")
    else:
        witness = F.xxhash64("node", "label")

    def probe(df: DataFrame):
        return df.agg(F.sum(witness.cast("decimal(38,0)")).alias("s")).collect()[0]["s"]

    # fused round 1: every node takes min(self, neighbors) in one agg
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("__mn"))
        .select(F.col("a").alias("node"), F.least("a", "__mn").alias("label"))
        .persist()
    )
    prev_sum = probe(labels)
    cached = [labels]
    rounds = 1

    for i in range(max_iter - 1):
        rounds += 1
        neighbor_labels = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"), "label"
        )
        new_labels = (
            neighbor_labels.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)  # lineage cut
        else:
            new_labels = new_labels.persist()
            cached.append(new_labels)
        label_sum = probe(new_labels)
        labels = new_labels
        if label_sum == prev_sum:
            break
        prev_sum = label_sum

    out = labels.select("node", F.col("label").alias("component")).localCheckpoint(
        eager=True
    )
    for df in cached:
        df.unpersist()
    sym.unpersist()
    stats["rounds"] = rounds
    return out


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    num_partitions: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) → (node, component) with component = min member id — the
    same contract as :func:`connected_components`.

    Min-label propagation moves a label ONE hop per round: O(diameter)
    rounds, which is fine for blocked person graphs (tiny diameters)
    but quadratic-ish wall time on chain-shaped graphs (transaction
    chains, citation paths). The star operations rewire the graph
    itself toward a star per component — O(log n) rounds regardless
    of diameter:

    - **large-star** (per node u): point every LARGER neighbor at
      min(u ∪ N(u)) — one agg for the per-node min + one join, both
      shuffling on node id;
    - **small-star** (per node u, over the (big → small) edge
      orientation the large-star emits): point u and every smaller
      neighbor at the smallest of them.

    Both preserve connectivity and only ever decrease attachment
    targets, so the (count, sum) probe over the deduped edge set is a
    monotone convergence witness (same argument as the label-sum probe
    in the propagation variant). At the fixpoint the edge set IS the
    answer: exactly one (node, root) edge per non-root node.

    Propagation stays the default — for the small-diameter graphs the
    matching pipeline produces it does fewer shuffles per round (2 vs
    4) and its fused first round often finishes the job. Reach for the
    star variant when diameters are unbounded. ``stats['rounds']``
    reports the converged round count (for tests and tuning).
    """
    spark = edges.sparkSession
    # same cached-plan AQE-coalescing scope as connected_components:
    # the oriented edge set is persisted and every round re-scans it —
    # without the flag it materializes at full pinned width however
    # small the graph is
    conf_before: str | None = None
    aqe_before = spark.conf.get(_AQE_CACHE, "false")
    if num_partitions is not None:
        conf_before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    spark.conf.set(_AQE_CACHE, "true" if _AQE_CACHE_ON else aqe_before)
    try:
        return _connected_components_star_loop(edges, src, dst, max_iter, stats)
    finally:
        spark.conf.set(_AQE_CACHE, aqe_before)
        if conf_before is not None:
            spark.conf.set("spark.sql.shuffle.partitions", conf_before)


def _connected_components_star_loop(
    edges: DataFrame, src: str, dst: str, max_iter: int, stats: dict | None
) -> DataFrame:
    # orient every edge big → small once; self-loops dropped
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )

    def probe(df: DataFrame):
        # set-identity witness: order-independent sum of per-edge hashes
        # (+ count) — equal probes on consecutive rounds mean the edge
        # set reached the star fixpoint, where both ops are the identity
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    prev = probe(e)
    rounds = 0
    cached = [e]
    for i in range(max_iter):
        rounds = i + 1
        # large-star: sym view, per-node min over ALL neighbors ∪ self,
        # larger neighbors re-point at it
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here: m2's min-agg absorbs duplicate (v, m) pairs
        # and the per-round dedup on new_e bounds the edge set — one
        # shuffle per round instead of two
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: edges are big → small, so N≤(u) is exactly the
        # neighbor set along this orientation
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = (
            large.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(m2.select("u", F.col("m").alias("v")))
            .distinct()
        )
        # lineage cut EVERY round: a star round references the previous
        # edge set four times (sym twice + two joins), so without a cut
        # the analyzed plan grows ~4^k — Catalyst analysis, not data,
        # becomes the cost (measured: rounds 1-2 ≈ 1 s, round 3 ≈ 18 s
        # with persist-only). The eager checkpoint materializes the
        # (tiny) edge set and makes every round's plan constant-size.
        # The convergence probe rides the SAME materialization as an
        # Observation (observed metrics fire on an eager localCheckpoint)
        # — one job per round instead of two; per-round cost here is
        # job/stage overhead, not data (guide §1.2).
        obs = Observation()
        new_e = new_e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).localCheckpoint(eager=True)
        got = obs.get
        cur = (got["n"], got["s"])
        e = new_e
        if cur == prev:
            break
        prev = cur

    out = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
        .localCheckpoint(eager=True)
    )
    for df in cached:
        df.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return out


def _star_edges(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Linear-size edges linking every member of a key group to the group
    minimum id (CC-equivalent to the quadratic clique)."""
    rep = df.groupBy(key_col).agg(F.min(id_col).alias("dst"))
    return (
        df.join(rep, key_col)
        .select(F.col(id_col).alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )


def similarity_edges(
    df: DataFrame,
    *,
    id_col: str = "person_id",
    gname_col: str = "strGName_processed",
    lname_col: str = "strLName_processed",
    date_col: str | None = "strDoB_processed",
    prisoner_col: str | None = "prisoner_number",
    pob_col: str | None = "strPoB_processed",
    cutoff: float = 85.0,
    n_chars: int = 4,
    len_band: int = 2,
    date_matcher: str = "full",
) -> DataFrame:
    """(src, dst, score) edges between persons whose blocked similarity
    ≥ cutoff. Self-join via the matching blocking; pair direction
    canonicalized to src < dst so each pair scores once."""
    right = df.toDF(*[f"__r_{c}" for c in df.columns])
    rid = f"__r_{id_col}"

    pairs = candidate_pairs(
        df, right, id_col, rid,
        gname_col, lname_col, f"__r_{gname_col}", f"__r_{lname_col}",
        n_chars=n_chars, len_band=len_band,
    ).filter(F.col(id_col) < F.col(rid))

    field_map = [(gname_col, "g"), (lname_col, "l"), (date_col, "d"),
                 (prisoner_col, "p"), (pob_col, "b")]

    def pick(side_df: DataFrame, idc: str, prefix: str, suffix: str) -> DataFrame:
        cols = [F.col(idc)]
        for c, alias in field_map:
            name = f"{prefix}{c}" if c else None
            col = F.col(name) if name and name in side_df.columns else F.lit(None).cast("string")
            cols.append(col.alias(f"{alias}{suffix}"))
        return side_df.select(*cols)

    use_date = bool(date_col and date_col in df.columns)
    use_prisoner = bool(prisoner_col and prisoner_col in df.columns)
    use_pob = bool(pob_col and pob_col in df.columns)
    score = _score_udf(False, use_prisoner, use_date, use_pob, date_matcher)

    return (
        pairs.join(pick(df, id_col, "", "s"), id_col)
        .join(pick(right, rid, "__r_", "t"), rid)
        .withColumn(
            "score",
            score(
                F.col("ls"), F.col("lt"), F.col("gs"), F.col("gt"),
                F.col("ps"), F.col("pt"), F.col("ds"), F.col("dt"),
                F.col("bs"), F.col("bt"),
            ),
        )
        .filter(F.col("score") >= cutoff)
        .select(F.col(id_col).alias("src"), F.col(rid).alias("dst"), "score")
    )


def person_clustering(
    df: DataFrame,
    *,
    id_col: str = "person_id",
    gname_col: str = "strGName_processed",
    lname_col: str = "strLName_processed",
    date_col: str | None = "strDoB_processed",
    prisoner_col: str | None = "prisoner_number",
    pob_col: str | None = "strPoB_processed",
    cutoff: float = 85.0,
    n_chars: int = 4,
    len_band: int = 2,
    date_matcher: str = "full",
    max_iter: int = 25,
    entity_col: str = "Person_Entity_ID",
    dense_ids: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cluster person mentions into entities → input rows + ``entity_col``.

    Union of similarity edges (≥ cutoff) and prisoner-number
    pre-cluster edges → connected components; singletons get their own
    entity. Mirrors scripts/clustering-container/run_clustering.py
    (cutoff=85, prefix=4, len unit=2 defaults) with the single-linkage
    divergence documented in the module docstring.

    Entity ids default to the minimum member id per component —
    deterministic, whichever path ``connected_components`` takes.
    ``dense_ids=True``
    renumbers entities 1..N like the reference's export
    (person_clustering.py:280-288) via range-sort + zipWithIndex over
    the distinct roots: global order comes from the range partitioner,
    numbering is per-partition offset arithmetic — no single-partition
    window, scales to any entity count. Opt-in because min-member ids
    are already stable and renumbering adds a sort + an RDD pass.
    """
    edges = similarity_edges(
        df, id_col=id_col, gname_col=gname_col, lname_col=lname_col,
        date_col=date_col, prisoner_col=prisoner_col, pob_col=pob_col,
        cutoff=cutoff, n_chars=n_chars, len_band=len_band,
        date_matcher=date_matcher,
    ).select("src", "dst")

    if prisoner_col and prisoner_col in df.columns:
        known = _star_edges(df.filter(has_value(prisoner_col)), id_col, prisoner_col)
        # no distinct: both CC paths absorb duplicate edges
        edges = edges.unionByName(known)

    comp = connected_components(
        edges, max_iter=max_iter, num_partitions=num_partitions
    )

    with_comp = df.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn("__root", F.coalesce("component", F.col(id_col)))

    if dense_ids:
        from aroa_etl_spark.operators.attributes import with_row_key

        roots = with_row_key(
            with_comp.select("__root").distinct().orderBy("__root"),
            entity_col,
            consecutive=True,  # zipWithIndex after the range sort → global order
        ).withColumn(entity_col, F.col(entity_col) + 1)
        return with_comp.join(roots, "__root").drop("__root", "component")
    return with_comp.withColumn(entity_col, F.col("__root")).drop("__root", "component")


def jaccard_distance_cluster(cl1, cl2) -> float:
    """Jaccard overlap of two clusters' member sets — exact port of
    person_clustering.py:84-87 (the reference names it *distance* but
    computes |∩|/|∪| similarity; the name is kept for API parity).
    Driver-side helper for two small collections; for column-level use
    over DataFrames prefer :func:`jaccard_cluster_expr`."""
    cl1, cl2 = set(cl1), set(cl2)
    return len(cl1 & cl2) / len(cl1 | cl2)


def jaccard_cluster_expr(a, b):
    """Native column expression for cluster Jaccard over two ``array``
    columns — JVM-side (array_intersect/array_union), no UDF, for
    comparing clusterings at scale (e.g. old vs new entity exports)."""
    a, b = F.array_distinct(a), F.array_distinct(b)
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def cluster_integrity(
    df: DataFrame,
    *,
    entity_col: str = "Person_Entity_ID",
    gname_col: str = "strGName_processed",
    lname_col: str = "strLName_processed",
    date_col: str | None = "strDoB_processed",
    prisoner_col: str | None = "prisoner_number",
    pob_col: str | None = "strPoB_processed",
) -> DataFrame:
    """Per-entity cluster quality diagnostics (reference M9,
    person_clustering.py:17-82 ``cluster_integrety``; the reference's
    misspelling is aliased below for API parity).

    For every member, its leave-one-out link scores against the rest of
    the cluster (avg / best / weakest pairwise ``person_similarity``,
    100 when alone), then per entity:

    - ``avg_score``        = mean of members' average-link scores
                             (reference key "average")
    - ``min_avg_link``     = weakest average-link member ("average-link")
    - ``min_single_link``  = weakest best-link member ("single-link")
    - ``min_max_link``     = weakest weakest-link member ("max-link")

    Users tune the clustering cutoff on these: a low ``min_single_link``
    flags a member with no good link to anyone (likely over-merge).

    Scale shape: one shuffle on ``entity_col``; pairwise work runs
    inside applyInPandas per entity, compressed to UNIQUE field profiles
    first — members with identical (name, date, …) tuples are
    interchangeable to the similarity kernel, so the matrix is u×u over
    unique profiles with multiplicity-weighted leave-one-out stats
    (exactly equal to the O(n²) member loop). Clustered entities are
    name-alike by construction, so u ≪ n is the common case; the
    quadratic term is bounded per group, never global.
    """
    have = {
        "d": bool(date_col and date_col in df.columns),
        "p": bool(prisoner_col and prisoner_col in df.columns),
        "b": bool(pob_col and pob_col in df.columns),
    }

    ent_type = next(f.dataType for f in df.schema.fields if f.name == entity_col)
    out_schema = T.StructType(
        [
            T.StructField(entity_col, ent_type, True),
            T.StructField("n_members", T.LongType(), True),
            T.StructField("avg_score", T.DoubleType(), True),
            T.StructField("min_avg_link", T.DoubleType(), True),
            T.StructField("min_single_link", T.DoubleType(), True),
            T.StructField("min_max_link", T.DoubleType(), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from aroa_etl_spark.functions.simkernels import (
            _memo_pair,
            name_matcher,
            name_set_matcher,
        )

        n = len(pdf)
        pdf = pdf.reset_index(drop=True)

        def val(row: int, col: str | None) -> str:
            v = pdf.at[row, col] if col and col in pdf.columns else None
            return "" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)

        # compress to unique field profiles with multiplicities: the
        # kernel sees only these tuples, so members sharing a profile are
        # interchangeable and u×u work replaces n×n.
        counts: dict[tuple[str, str, str, str, str], int] = {}
        for i in range(n):
            prof = (val(i, lname_col), val(i, gname_col), val(i, prisoner_col),
                    val(i, date_col), val(i, pob_col))
            counts[prof] = counts.get(prof, 0) + 1
        profs = list(counts)
        mult = [counts[p] for p in profs]
        u = len(profs)

        set_m, rat_m = _memo_pair(name_set_matcher), _memo_pair(name_matcher)

        def kernel(a, b) -> float:
            return person_similarity(
                a[0], b[0], a[1], b[1], a[2], b[2], a[3], b[3], a[4], b[4],
                use_prisoner=have["p"], use_date=have["d"], use_pob=have["b"],
                _set_matcher=set_m, _ratio_matcher=rat_m,
            )

        # u×u symmetric matrix INCLUDING the diagonal: sim[a][a] is the
        # score between two distinct members with identical profiles
        # (it is not 100 by fiat — the kernel decides).
        sim = [[0.0] * u for _ in range(u)]
        for i in range(u):
            sim[i][i] = kernel(profs[i], profs[i])
            for j in range(i + 1, u):
                sim[i][j] = sim[j][i] = kernel(profs[i], profs[j])

        # leave-one-out stats per profile, weighted by multiplicity —
        # identical member-for-member to the expanded pairwise loop.
        avg_sum = 0.0
        min_avg = min_best = min_weak = float("inf")
        for a in range(u):
            tot, best, weak = 0.0, -float("inf"), float("inf")
            for b in range(u):
                m = mult[b] - (1 if b == a else 0)
                if m <= 0:
                    continue
                s = sim[a][b]
                tot += m * s
                best = max(best, s)
                weak = min(weak, s)
            if n == 1:  # singleton: leave-one-out vs empty → 100
                avg = best = weak = 100.0
            else:
                avg = tot / (n - 1)
            avg_sum += mult[a] * avg
            min_avg = min(min_avg, avg)
            min_best = min(min_best, best)
            min_weak = min(min_weak, weak)
        return pd.DataFrame(
            {
                entity_col: [pdf.at[0, entity_col]],
                "n_members": [n],
                "avg_score": [avg_sum / n],
                "min_avg_link": [min_avg],
                "min_single_link": [min_best],
                "min_max_link": [min_weak],
            }
        )

    return df.groupBy(entity_col).applyInPandas(run, out_schema)


# reference spelling (person_clustering.py:69) kept as an alias
cluster_integrety = cluster_integrity


def greedy_block_clustering(
    df: DataFrame,
    components: DataFrame,
    *,
    id_col: str = "person_id",
    gname_col: str = "strGName_processed",
    lname_col: str = "strLName_processed",
    date_col: str | None = "strDoB_processed",
    prisoner_col: str | None = "prisoner_number",
    pob_col: str | None = "strPoB_processed",
    cutoff: float = 85.0,
    linkage: str = "max",
    entity_col: str = "Person_Entity_ID",
) -> DataFrame:
    """Reference-faithful greedy agglomerative clustering *within* each
    connected component (person_clustering.py:171-276 semantics), run
    distributed via applyInPandas — a component is the parallel unit, so
    the order-dependent sweep only ever sees one component's rows (rows
    in different components can never clear the cutoff anyway).

    linkage: 'max' → a candidate must clear cutoff against EVERY cluster
    member (min pairwise); 'average' → mean pairwise; 'single' → any.
    """
    joined = (
        df.join(components.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("__comp", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )

    id_type = next(f.dataType for f in joined.schema.fields if f.name == id_col)
    out_schema = T.StructType(
        [T.StructField(id_col, id_type, True), T.StructField("__sub", T.IntegerType(), True)]
    )

    have = {
        "d": bool(date_col and date_col in df.columns),
        "p": bool(prisoner_col and prisoner_col in df.columns),
        "b": bool(pob_col and pob_col in df.columns),
    }

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)

        def val(row: int, col: str | None) -> str:
            return str(pdf.at[row, col] or "") if col and col in pdf.columns else ""

        def sim(i: int, j: int) -> float:
            return person_similarity(
                val(i, lname_col), val(j, lname_col),
                val(i, gname_col), val(j, gname_col),
                val(i, prisoner_col), val(j, prisoner_col),
                val(i, date_col), val(j, date_col),
                val(i, pob_col), val(j, pob_col),
                use_prisoner=have["p"], use_date=have["d"], use_pob=have["b"],
            )

        n = len(pdf)
        assigned = [-1] * n
        next_cluster = 0
        for i in range(n):
            if assigned[i] >= 0:
                continue
            cluster = [i]
            assigned[i] = next_cluster
            for j in range(n):
                if assigned[j] >= 0:
                    continue
                scores = [sim(j, m) for m in cluster]
                if linkage == "max":
                    ok = min(scores) >= cutoff
                elif linkage == "average":
                    ok = sum(scores) / len(scores) >= cutoff
                else:
                    ok = max(scores) >= cutoff
                if ok:
                    cluster.append(j)
                    assigned[j] = next_cluster
            next_cluster += 1
        return pd.DataFrame({id_col: pdf[id_col], "__sub": assigned})

    subs = joined.groupBy("__comp").applyInPandas(run, out_schema)
    labeled = joined.join(subs, id_col)
    # entity id = min member id per sub-cluster: deterministic, distributed
    ent = labeled.groupBy("__comp", "__sub").agg(F.min(id_col).alias(entity_col))
    return labeled.join(ent, ["__comp", "__sub"]).drop("__comp", "__sub")
