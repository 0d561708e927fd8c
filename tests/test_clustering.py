"""Entity clustering: connected components + blocked similarity edges +
greedy in-component refinement (SURVEY §2 EP2/J7/M8)."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F


def _components_map(rows):
    """rows of (node, component) → {frozenset of nodes per component}."""
    comps: dict = {}
    for r in rows:
        comps.setdefault(r["component"], set()).add(r["node"])
    return {frozenset(v) for v in comps.values()}


def test_connected_components_chain_and_islands(spark):
    from aroa_etl_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], ["src", "dst"]
    )
    got = _components_map(connected_components(edges).collect())
    # self-loop (20,20) is dropped; 20 never appears as a node
    assert got == {frozenset({1, 2, 3, 4}), frozenset({10, 11})}


def test_connected_components_merges_across_edge_order(spark):
    from aroa_etl_spark.operators.clustering import connected_components

    # two chains that meet in the middle: {5,6,7} ∪ {7,8,9}
    edges = spark.createDataFrame([(9, 8), (5, 6), (7, 8), (6, 7)], ["src", "dst"])
    got = _components_map(connected_components(edges).collect())
    assert got == {frozenset({5, 6, 7, 8, 9})}


# NOTE blocking fidelity: the reference's clustering buckets use a
# 4-char prefix + len//2 band (run_clustering.py:24-25), so near-dups
# must share those to ever be compared — schmidt/schmitt do,
# meier/maier (differ at char 2) deliberately would NOT.
PEOPLE = [
    # (person_id, gname, lname, dob, prisoner, pob)
    (1, "anna", "schmidt", "19300201", "", "berlin"),
    (2, "anna", "schmitt", "19300201", "", "berlin"),   # near-dup of 1
    (3, "anna", "schmidt", "19300201", "", "berlin"),   # exact dup of 1
    (4, "hans", "wagner", "19251130", "555", "hamburg"),
    (5, "peter", "huber", "19400101", "555", "prag"),   # prisoner-links to 4
    (6, "maria", "kovacs", "19200101", "", "budapest"),  # singleton
]
COLS = ["person_id", "strGName_processed", "strLName_processed",
        "strDoB_processed", "prisoner_number", "strPoB_processed"]


def test_person_clustering_end_to_end(spark):
    from aroa_etl_spark.operators.clustering import person_clustering

    df = spark.createDataFrame(PEOPLE, COLS)
    out = person_clustering(df, cutoff=85.0).collect()
    ent = {r["person_id"]: r["Person_Entity_ID"] for r in out}

    assert len(out) == len(PEOPLE)  # every row labeled exactly once
    # near/exact duplicates of anna meier cluster together
    assert ent[1] == ent[2] == ent[3]
    # prisoner number links dissimilar persons 4 and 5
    assert ent[4] == ent[5]
    # distinct entities stay apart
    assert len({ent[1], ent[4], ent[6]}) == 3


def test_similarity_edges_respect_cutoff(spark):
    from aroa_etl_spark.operators.clustering import similarity_edges

    df = spark.createDataFrame(PEOPLE, COLS)
    edges = similarity_edges(df, cutoff=85.0).collect()
    pairs = {(r["src"], r["dst"]) for r in edges}
    assert (1, 3) in pairs  # exact dup
    assert (1, 2) in pairs and (2, 3) in pairs  # near dup, same block
    assert all(s < d for s, d in pairs)  # canonical direction
    assert all(r["score"] >= 85.0 for r in edges)
    # kovacs matches nobody
    assert not any(6 in p for p in pairs)


def test_greedy_block_clustering_max_linkage(spark):
    from aroa_etl_spark.operators.clustering import (
        connected_components,
        greedy_block_clustering,
        similarity_edges,
    )

    df = spark.createDataFrame(PEOPLE, COLS)
    comp = connected_components(similarity_edges(df, cutoff=85.0).select("src", "dst"))
    out = greedy_block_clustering(df, comp, cutoff=85.0, linkage="max").collect()
    ent = {r["person_id"]: r["Person_Entity_ID"] for r in out}
    assert len(out) == len(PEOPLE)
    assert ent[1] == ent[3]  # exact dups always together
    assert len({ent[1], ent[4], ent[6]}) == 3


def test_jaccard_distance_cluster_reference_port():
    from aroa_etl_spark.operators.clustering import jaccard_distance_cluster

    assert jaccard_distance_cluster([1, 2, 3], [2, 3, 4]) == 0.5
    assert jaccard_distance_cluster([1], [1]) == 1.0
    assert jaccard_distance_cluster([1, 1, 2], [2]) == 0.5  # set semantics


def test_jaccard_cluster_expr_matches_python(spark):
    from aroa_etl_spark.operators.clustering import (
        jaccard_cluster_expr,
        jaccard_distance_cluster,
    )

    rows = [([1, 2, 3], [2, 3, 4]), ([1], [1]), ([1, 1, 2], [2])]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = [r["j"] for r in df.select(jaccard_cluster_expr("a", "b").alias("j")).collect()]
    want = [jaccard_distance_cluster(a, b) for a, b in rows]
    assert got == want


def test_cluster_integrity_stats(spark):
    from aroa_etl_spark.functions.simkernels import person_similarity
    from aroa_etl_spark.operators.clustering import cluster_integrity

    # entity 1: twins (identical names) + one unrelated member;
    # entity 2: a singleton → all stats 100 by the reference convention.
    rows = [
        (1, 1, "anna", "schmidt"),
        (2, 1, "anna", "schmidt"),
        (3, 1, "xyz", "qqq"),
        (9, 2, "solo", "person"),
    ]
    df = spark.createDataFrame(
        rows, ["person_id", "Person_Entity_ID", "strGName_processed", "strLName_processed"]
    )
    out = {
        r["Person_Entity_ID"]: r
        for r in cluster_integrity(
            df, date_col=None, prisoner_col=None, pob_col=None
        ).collect()
    }

    solo = out[2]
    assert solo["n_members"] == 1
    assert solo["avg_score"] == solo["min_avg_link"] == 100.0
    assert solo["min_single_link"] == solo["min_max_link"] == 100.0

    twin = person_similarity("schmidt", "schmidt", "anna", "anna",
                             use_prisoner=False, use_date=False, use_pob=False)
    cross_a = person_similarity("schmidt", "qqq", "anna", "xyz",
                                use_prisoner=False, use_date=False, use_pob=False)
    big = out[1]
    assert big["n_members"] == 3
    # member 3's best link is its best cross score; twins' weakest is cross
    assert big["min_single_link"] == cross_a
    assert big["min_max_link"] == min(twin, cross_a)
    # twins' avg link = mean(twin, cross); member 3's avg = cross
    import statistics

    avgs = [statistics.mean([twin, cross_a]), statistics.mean([twin, cross_a]), cross_a]
    assert abs(big["min_avg_link"] - min(avgs)) < 1e-9
    assert abs(big["avg_score"] - statistics.mean(avgs)) < 1e-9


def test_person_clustering_dense_ids_distributed(spark):
    """dense_ids renumbers entities 1..N via range-sort + zipWithIndex —
    no single-partition window — in min-root order."""
    from aroa_etl_spark.operators.clustering import person_clustering

    df = spark.createDataFrame(
        [(1, "anna", "schmidt"), (2, "anna", "schmidt"),
         (7, "bob", "maier"), (9, "carl", "weber")],
        ["person_id", "strGName_processed", "strLName_processed"],
    )
    out = person_clustering(
        df, date_col=None, prisoner_col=None, pob_col=None,
        cutoff=60.0, dense_ids=True,
    )
    rows = sorted((r["person_id"], r["Person_Entity_ID"]) for r in out.collect())
    assert [r[1] for r in rows] == [1, 1, 2, 3]


# ---------------------------------------------------------------------------
# large-star / small-star rounds (the distributed path)
# ---------------------------------------------------------------------------

def test_star_cc_matches_propagation_on_random_graph(spark):
    """The rounds path agrees with the driver union-find on the same
    150-edge random graph."""
    import random

    rng = random.Random(42)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    driver, d_stats = _run_cc(spark, df, "67108864")
    rounds, r_stats = _run_cc(spark, df, "-1")
    assert (d_stats["path"], r_stats["path"]) == ("driver", "rounds")
    assert rounds == driver


def test_star_cc_chain_graph_converges_in_log_rounds(spark):
    """A 64-node chain has diameter 63: min-label propagation would need
    ~63 rounds (it moves labels one hop per round), the star rounds
    O(log n). The fixpoint must still be component 0 for every node."""
    n = 64
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    out, stats = _run_cc(spark, df, "-1")
    assert stats["path"] == "rounds"
    assert out == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 10  # log-ish, nowhere near the 63 propagation needs


def test_star_cc_handles_duplicate_and_reversed_edges(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (5, 5), (7, 8), (8, 7), (7, 8)],
        "src long, dst long",
    )
    out, stats = _run_cc(spark, df, "-1")
    assert stats["path"] == "rounds"
    # 5's only edge is a self-loop -> dropped
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_rounds_path_reaches_the_fixpoint_on_a_deep_chain(spark):
    """A 100-node chain has diameter 99, four times the default
    ``max_iter`` (25): a loop that moves labels one hop per round stops
    at the cap with stale labels. The star rounds converge well inside
    it and keep only the result's blocks."""
    n = 100
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persisted())
    out, stats = _run_cc(spark, df, "-1")
    assert stats["path"] == "rounds"
    assert out == {i: 0 for i in range(n)}
    assert stats["rounds"] < 25
    assert len(persisted()) <= before + 1  # the result's own checkpoint


# ---------------------------------------------------------------------------
# driver / rounds paths of connected_components
# ---------------------------------------------------------------------------

@contextmanager
def _broadcast_threshold(spark, value: str):
    """Scope ``spark.sql.autoBroadcastJoinThreshold``; ``-1`` (never
    broadcast) sends connected_components down the distributed rounds."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _random_graph(rng, n_nodes: int, n_edges: int):
    """Chains, islands, self-loops, duplicate and reversed edges and NULL
    ids over ``n_nodes`` ids."""
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    start = rng.randrange(n_nodes)
    edges += [(start + i, start + i + 1) for i in range(rng.randrange(2, 12))]  # chain
    edges += [(n_nodes + 2 * i, n_nodes + 2 * i + 1) for i in range(3)]  # islands
    picks = rng.sample(edges, min(5, len(edges)))
    edges += picks + [(d, s) for s, d in picks]  # duplicates and reversals
    edges += [(i, i) for i in rng.sample(range(n_nodes), 3)]  # self-loops
    edges += [(None, rng.randrange(n_nodes)), (rng.randrange(n_nodes), None), (None, None)]
    rng.shuffle(edges)
    return edges


def _run_cc(spark, df, threshold: str, **kw):
    from aroa_etl_spark.operators.clustering import connected_components

    stats: dict = {}
    with _broadcast_threshold(spark, threshold):
        rows = connected_components(df, stats=stats, **kw).collect()
    return {r["node"]: r["component"] for r in rows}, stats


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_cc_driver_and_rounds_paths_agree(spark, seed, id_type):
    import random

    rng = random.Random(seed)
    edges = _random_graph(rng, rng.choice([30, 150]), rng.choice([20, 120]))
    df = spark.createDataFrame(edges, "src long, dst long")
    if id_type == "string":
        # prefixes with a non-ASCII letter: min must follow code points
        def tag(c):
            return F.concat(F.when(F.col(c) % 3 == 0, "ä").otherwise("a"), F.col(c)).alias(c)

        df = df.select(tag("src"), tag("dst"))

    driver, d_stats = _run_cc(spark, df, "67108864")
    rounds, r_stats = _run_cc(spark, df, "-1", max_iter=100)
    assert (d_stats["path"], r_stats["path"]) == ("driver", "rounds")
    assert d_stats["edges"] == r_stats["edges"]
    assert driver == rounds

    # brute-force reference: BFS over the same edge list
    adj: dict = {}
    for r in df.collect():
        s, d = r["src"], r["dst"]
        if s is None or d is None or s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    want: dict = {}
    for node in adj:
        if node in want:
            continue
        comp, todo = {node}, [node]
        while todo:
            for nxt in adj[todo.pop()] - comp:
                comp.add(nxt)
                todo.append(nxt)
        for m in comp:
            want[m] = min(comp)
    assert driver == want


def test_cc_driver_path_keeps_id_type_and_ignores_max_iter(spark):
    """A 40-node chain under max_iter=2: the driver reaches the fixpoint
    anyway, keeps the int id type and leaves no persisted RDD behind."""
    from aroa_etl_spark.operators.clustering import connected_components

    n = 40
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src int, dst int")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persisted())
    stats: dict = {}
    out = connected_components(df, max_iter=2, stats=stats)
    assert stats["path"] == "driver" and stats["edges"] == n - 1
    assert len(persisted()) == before  # the edge checkpoint is released
    assert dict(out.dtypes) == {"node": "int", "component": "int"}
    assert {r["node"]: r["component"] for r in out.collect()} == {i: 0 for i in range(n)}


def test_existing_cc_cases_on_rounds_path(spark):
    """Every fixed-graph connected_components case above, on the rounds."""
    with _broadcast_threshold(spark, "-1"):
        test_connected_components_chain_and_islands(spark)
        test_connected_components_merges_across_edge_order(spark)
        test_person_clustering_end_to_end(spark)
        test_greedy_block_clustering_max_linkage(spark)
        test_person_clustering_dense_ids_distributed(spark)
        test_star_cc_matches_propagation_on_random_graph(spark)
