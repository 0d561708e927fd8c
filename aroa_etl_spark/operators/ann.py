"""Similarity search over embedding columns: brute-force cosine top-k
(exact baseline) and sign-bucket LSH top-k (scale path).

The embeddings table is (vec_id, embedding array<float>, label).

Architecture:
- ``brute_force_topk``: query set × corpus cross-score. The query side
  is expected to be small (it is broadcast); the corpus streams through
  executors — a full scan per query batch, the exact-recall baseline.
  Dot products run JVM-side via zip_with/aggregate in double precision
  (deterministic fold order → oracle-reproducible), ranked by a
  per-query window.
- ``lsh_topk``: both sides bucketed by leading-dimension sign bits
  (fixed axis-aligned hyperplanes — deterministic). Probing multiplies
  recall: each query probes its own bucket plus all buckets within
  ``probe_hamming`` sign flips (the multi-probe LSH trick), then exact
  cosine ranks within candidates. Misses only vectors differing in >
  probe_hamming leading signs — the documented recall trade.
- ``ivf_topk``: the IVF variant — k-means centroid cells (DataFrame-
  native Lloyd fit, distributed; centroids inlined as literal arrays so
  assignment is a pure column expression), queries probe their nprobe
  nearest cells. Same join shape as LSH but the cells track the data
  distribution, so recall at small nprobe is far higher (measured
  0.60 vs 0.12 at comparable budgets on the random sf0.001 corpus);
  nprobe = n_centroids degenerates to an exact full scan.

Parameterization (measured on the sf0.01 synthetic embeddings — 500
UNSTRUCTURED random vectors, the worst case for any LSH):

    sign_dims=8: probe 0 → recall@10 0.02; probe 1 → 0.12; probe 2 → 0.33

For a neighbor at cosine ρ the per-hyperplane sign-agreement
probability is 1 − arccos(ρ)/π, so recall ≈ p^sign_dims before
probing: choose sign_dims ≈ log2(corpus_size / desired_bucket_size)
and spend probes to buy recall back. Real embedding corpora are
clustered (ρ within a near-dup group ≫ random), where the same
parameters recall near-dups reliably — the dedup use case this serves.
For high-recall search over unstructured data, use brute_force_topk or
the IVF variant.

PQ (``pq_train``/``pq_encode``/``pq_topk``) compresses vectors to
m-byte codes scored by asymmetric distance tables; ``ivfpq_topk``
composes cells + codes — the canonical billion-scale index shape.

Deliberately absent: HNSW. Its graph construction is inherently
sequential (each insertion navigates the graph built so far), which
inverts Spark's bulk-parallel execution model — a faithful distributed
HNSW degenerates into a driver-side build or fine-grained cross-worker
chatter. IVF(+PQ) delivers the same query-cost/recall trade with
bulk-parallel construction (one KMeans fit + one encode pass), which is
why it, not HNSW, is the engine's scale path. Per-partition HNSW via a
library (faiss/hnswlib in mapPartitions) remains possible downstream of
this engine's bucketing, as an optional dependency.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from aroa_etl_spark.operators.skew import spread_small


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(x: Column) -> Column:
    return F.sqrt(_dot(x, x))


def cosine(x: Column, y: Column) -> Column:
    """Double-precision cosine similarity between two float arrays."""
    return _dot(x, y) / (_norm(x) * _norm(y))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id).

    Broadcast the (small) query set against the corpus scan; rank with
    a per-query window. Ties break by neighbor id ascending so results
    are total-ordered and reproducible."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv")
    )
    # spread_small: the interpreted zip_with/aggregate dot products run
    # scan-side against the broadcast query set — a small single-file
    # corpus scan plans ONE partition and evaluates #queries x #corpus
    # lambdas serially (guide §2.5 input skew; pass-through at scale,
    # where the corpus already plans >= defaultParallelism partitions)
    c = spread_small(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cv")
        )
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn("__cos", cosine(F.col("__qv"), F.col("__cv")))
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def _sign_key(vec: str, sign_dims: int) -> Column:
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(F.col(vec), i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(sign_dims)
        ],
    )


def _probe_keys(vec: str, sign_dims: int, probe_hamming: int) -> Column:
    """Array of bucket keys: the vector's own sign key plus every key
    within ``probe_hamming`` bit flips (multi-probe)."""
    bits = [
        F.when(F.element_at(F.col(vec), i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(sign_dims)
    ]

    def key_with_flips(flip: set[int]) -> Column:
        parts = [
            (F.lit(1) - bits[i] if i in flip else bits[i]).cast("string")
            for i in range(sign_dims)
        ]
        return F.concat_ws("", *parts)

    keys = [key_with_flips(set())]
    for r in range(1, probe_hamming + 1):
        for combo in combinations(range(sign_dims), r):
            keys.append(key_with_flips(set(combo)))
    return F.array(*keys)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    sign_dims: int = 8,
    probe_hamming: int = 1,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via sign-bucket LSH with multi-probe.

    Corpus is bucketed once (its own key); queries explode to
    1 + C(sign_dims,1..probe_hamming) probe keys and equi-join buckets
    — a shuffle join on short string keys instead of a cross product.
    Exact cosine + window rank within candidates. Output schema matches
    brute_force_topk for recall evaluation."""
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        _sign_key(corpus_vec, sign_dims).alias("__k"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.explode(_probe_keys(query_vec, sign_dims, probe_hamming)).alias("__k"),
    )
    scored = (
        q.join(c, "__k")
        .withColumn("__cos", cosine(F.col("__qv"), F.col("__cv")))
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def _sq_dist(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: (p.cast("double") - q.cast("double"))
                   * (p.cast("double") - q.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cents_col(centroids: "list[list[float]]") -> Column:
    """The quantizer as ONE plan node: a from_json over a single string
    literal.  A nested F.lit embeds every double as a source-level
    constant in the generated Java, so any change to the centroid
    values (every Lloyd round, every fresh search) is a fresh Janino
    compile (~0.5-2 s at 8×64, measured); the json string rides the
    codegen references array instead, making the generated source
    byte-identical across rounds and calls — compiled once per session.
    json.dumps repr round-trips finite doubles exactly, so distances
    are bit-identical to the literal form (differential-checked)."""
    import json as _json

    return F.from_json(
        F.lit(_json.dumps([[float(v) for v in c] for c in centroids])),
        "array<array<double>>",
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    seed: int = 7,
    train_fraction: float = 1.0,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    centroids: "list[list[float]] | None" = None,
    max_iter: int = 20,
) -> DataFrame:
    """IVF-style approximate cosine top-k — the 100 TB scale path
    promised in the module header.

    Coarse quantizer: DataFrame-native Lloyd KMeans (distributed fit,
    fixed seed — :func:`ivf_train_centroids`) on ``train_fraction`` of
    the corpus; the learned centroids come back
    to the driver (n_centroids × dim floats — tiny) and are inlined as
    literal arrays, so cell assignment is a pure column expression
    (argmin of squared distances) — no UDF, no broadcast variable, and
    the corpus is bucketed in one projection. Queries probe their
    ``nprobe`` nearest cells; candidates equi-join on the cell id and
    exact cosine ranks them. ``nprobe=n_centroids`` degenerates to an
    exact full scan (useful as a correctness oracle); small nprobe
    trades recall for a corpus-fraction scan of roughly nprobe /
    n_centroids.

    Unlike sign-bucket LSH the cells track the DATA distribution, so
    recall on clustered real-world embeddings is high at small nprobe;
    size n_centroids ≈ sqrt(corpus) for balanced cells at scale.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, corpus_vec=corpus_vec, n_centroids=n_centroids,
            seed=seed, train_fraction=train_fraction, max_iter=max_iter,
        )
    # a persisted index fixes the cell count: never probe past it
    nprobe = min(nprobe, len(centroids))
    # the whole quantizer as ONE plan node via _cents_col: constant-
    # size generated code in n_centroids AND a generated source that
    # does not change with the centroid VALUES, so the Janino compile
    # happens once per session instead of once per search (per-centroid
    # expression trees, and later per-value literals, both measured in
    # seconds of recompiles at 8×64 — see _cents_col)
    cents = _cents_col(centroids)

    def dists(vec: str) -> Column:
        return F.transform(cents, lambda c: _sq_dist(F.col(vec), c))

    def assign(vec: str) -> Column:
        d = dists(vec)
        return F.array_position(d, F.array_min(d)).cast("int")

    def probes(vec: str) -> Column:
        # nprobe nearest cells: sort (dist, idx) structs, take the ids
        d = dists(vec)
        ranked = F.array_sort(
            F.transform(
                d, lambda v, i: F.struct(v.alias("d"), (i + 1).alias("c"))
            )
        )
        return F.slice(F.transform(ranked, lambda s: s["c"]), 1, nprobe)

    # cell assignment runs the interpreted distance lambda per corpus
    # row BEFORE any exchange, i.e. at the scan's parallelism — spread
    # small single-file corpora so it isn't one serial task
    c = spread_small(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        assign(corpus_vec).alias("__cell"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        F.explode(probes(query_vec)).alias("__cell"),
    )
    scored = q.join(c, "__cell").withColumn(
        "__cos", cosine(F.col("__qv"), F.col("__cv"))
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    seed: int = 7,
    train_fraction: float = 1.0,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train a product-quantization codebook (Jégou et al. 2011,
    "Product quantization for nearest neighbor search"): the vector
    splits into ``m`` subspaces and each gets its own ``k``-centroid
    KMeans. Returns ``codebook[sub][code] -> centroid`` (m·k·(dim/m)
    floats — driver-sized by construction, like the IVF centroids).

    Training is m distributed KMeans fits over subvector projections;
    pass ``train_fraction`` to fit on a sample at corpus scale. dim must
    be divisible by m."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    base = corpus.select(F.col(vec_col).cast("array<double>").alias("__v"))
    if train_fraction < 1.0:
        base = base.sample(fraction=train_fraction, seed=seed)
    codebook: list[list[list[float]]] = []
    for s in range(m):
        train = base.select(
            array_to_vector(F.slice("__v", s * sub + 1, sub)).alias("features")
        )
        model = KMeans(k=k, seed=seed + s).fit(train)
        codebook.append([[float(v) for v in c] for c in model.clusterCenters()])
    return codebook


def _pq_sub_dists(vec_col: str, codebook, s: int, sub: int) -> Column:
    """Array of k squared distances from subvector s to its centroids."""
    seg = F.slice(F.col(vec_col).cast("array<double>"), s * sub + 1, sub)
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    seg,
                    F.lit([float(x) for x in cent]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for cent in codebook[s]
        ]
    )


def pq_encode(
    df: DataFrame, codebook, *, vec_col: str = "embedding", code_col: str = "pq_code"
) -> DataFrame:
    """Append ``code_col``: array<int> of m per-subspace nearest-centroid
    ids (1-based). Pure column expressions (argmin over the k literal
    centroids per subspace) — the m-byte compressed representation you
    persist instead of the full vector: dim·4 bytes -> m codes."""
    m = len(codebook)
    sub = len(codebook[0][0])
    codes = []
    for s in range(m):
        d = _pq_sub_dists(vec_col, codebook, s, sub)
        codes.append(F.array_position(d, F.array_min(d)).cast("int"))
    return df.withColumn(code_col, F.array(*codes))


def _adc_dist(m: int) -> Column:
    """Asymmetric PQ distance: m lookups into the per-query ``__dtab``
    addressed by the row's ``__code``, summed. Shared by pq_topk and
    ivfpq_topk so the full-probe == pq_topk invariant can't drift."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at("__dtab", s.cast("int") + 1),
            F.element_at("__code", s.cast("int") + 1),
        ),
    )


def _adc_rank_topk(pair: DataFrame, m: int, k: int) -> DataFrame:
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("neighbor_id").asc())
    return (
        pair.select("query_id", "neighbor_id", _adc_dist(m).alias("__d"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook,
    *,
    k: int = 10,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    code_col: str = "pq_code",
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes its m×k
    subspace distance table IN-PLAN (against the literal codebook), the
    tiny query frame broadcasts, and every corpus CODE row scores with m
    array lookups + an m-term sum — no full-vector math on the scan
    side. (query_id, rank, neighbor_id) by ascending approximate
    squared distance, ties by neighbor id.

    This is the PQ trade at 100 TB: the corpus scan reads m small ints
    per row instead of dim floats (~32× less I/O at m=8/dim=64), at the
    cost of quantization error — recall is bounded by codebook quality;
    compose with IVF cells for candidate pruning on top."""
    m = len(codebook)
    sub = len(codebook[0][0])
    dtab = F.array(
        *[_pq_sub_dists(query_vec, codebook, s, sub) for s in range(m)]
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), dtab.alias("__dtab")
    )
    c = codes.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(code_col).alias("__code")
    )
    pair = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pair = pair.filter(F.col("neighbor_id") != F.col("query_id"))
    return _adc_rank_topk(pair, m, k)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    seed: int = 7,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    residual: bool = False,
    centroids: "list[list[float]] | None" = None,
    codebook: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """IVF + PQ composed — the canonical billion-scale ANN index shape
    (Jégou et al. 2011): coarse KMeans cells prune the candidate set
    (queries probe their ``nprobe`` nearest cells), and within the
    probed cells scoring runs on m-byte PQ codes via the asymmetric
    distance table — so the scan side reads codes, not vectors, AND
    touches only ~nprobe/n_centroids of the corpus. ``nprobe ==
    n_centroids`` degenerates to exactly :func:`pq_topk` (full scan, PQ
    error only) with ``residual=False`` — the invariant the tests pin.
    ``residual=True`` encodes RESIDUALS (v - cell centroid), the
    standard refinement (Jégou 2011 §IV): codes quantize the
    within-cell offset, whose spread is much smaller than the raw
    vectors', so the same m/pq_k budget yields finer resolution when
    cells are tight; the query then builds one distance table per
    probed cell from its own residual.

    ``centroids``/``codebook`` accept a PINNED index (the persisted-
    index lifecycle, like ``ivf_topk(centroids=...)``): training is
    skipped for whichever is supplied, every distance is then pure
    literal arithmetic, and the whole search is replayable on any
    engine — the fixed-index contract a production deployment (train
    once, search forever) actually runs under."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if centroids is None:
        train = corpus.select(
            array_to_vector(F.col(corpus_vec).cast("array<double>")).alias("features")
        )
        model = KMeans(k=n_centroids, seed=seed).fit(train)
        centroids = [[float(v) for v in c] for c in model.clusterCenters()]
    n_centroids = len(centroids)
    nprobe = min(nprobe, n_centroids)
    # ONE array literal per centroid (F.lit on a list), not one py4j
    # F.lit call per element — per-element construction cost ~20 s of
    # driver time for an 8x64 quantizer + 4x8x16 codebook (measured)
    cents = [F.lit([float(v) for v in c]) for c in centroids]

    def dists(vec: str) -> Column:
        return F.array(*[_sq_dist(F.col(vec), c) for c in cents])

    def assign(vec: str) -> Column:
        d = dists(vec)
        return F.array_position(d, F.array_min(d)).cast("int")

    def probes(vec: str) -> Column:
        d = dists(vec)
        ranked = F.array_sort(
            F.transform(d, lambda v, i: F.struct(v.alias("d"), (i + 1).alias("c")))
        )
        return F.slice(F.transform(ranked, lambda s: s["c"]), 1, nprobe)

    assigned = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        assign(corpus_vec).alias("__cell"),
    )
    cents_arr = F.array(*cents)

    def _residual(vec_col: str) -> Column:
        return F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(cents_arr, F.col("__cell")),
            lambda a, b: a - b,
        )

    if residual:
        # eager checkpoint: pq_train makes m KMeans passes plus a dim
        # probe, and pq_encode one more — without materialization each
        # would recompute the n_centroids-way assignment + residual
        # subtraction over the whole corpus (~m+2 redundant scans). At
        # cluster scale persist this projection to disk instead.
        with_res = assigned.withColumn("__rv", _residual("__cv")).localCheckpoint(
            eager=True
        )
        if codebook is None:
            codebook = pq_train(with_res, m=m, k=pq_k, seed=seed, vec_col="__rv")
        m = len(codebook)  # a pinned codebook overrides the m param
        sub = len(codebook[0][0])
        coded = pq_encode(with_res, codebook, vec_col="__rv", code_col="__code").select(
            "neighbor_id", "__cell", "__code"
        )
        # per (query, probed cell): the distance table is built from the
        # QUERY's residual against that cell — one table per exploded row
        q = (
            queries.select(
                F.col(query_id).alias("query_id"),
                F.col(query_vec).alias("__qv"),
                F.explode(probes(query_vec)).alias("__cell"),
            )
            .withColumn("__qres", _residual("__qv"))
            .select(
                "query_id",
                "__cell",
                F.array(
                    *[_pq_sub_dists("__qres", codebook, s, sub) for s in range(m)]
                ).alias("__dtab"),
            )
        )
    else:
        if codebook is None:
            codebook = pq_train(corpus, m=m, k=pq_k, seed=seed, vec_col=corpus_vec)
        m = len(codebook)  # a pinned codebook overrides the m param
        sub = len(codebook[0][0])
        coded = pq_encode(
            assigned, codebook, vec_col="__cv", code_col="__code"
        ).select("neighbor_id", "__cell", "__code")
        dtab = F.array(*[_pq_sub_dists(query_vec, codebook, s, sub) for s in range(m)])
        q = queries.select(
            F.col(query_id).alias("query_id"),
            dtab.alias("__dtab"),
            F.explode(probes(query_vec)).alias("__cell"),
        )
    pair = q.join(coded, "__cell")
    if exclude_self:
        pair = pair.filter(F.col("neighbor_id") != F.col("query_id"))
    return _adc_rank_topk(pair, m, k)


def ivf_train_centroids(
    corpus: DataFrame,
    *,
    corpus_vec: str = "embedding",
    n_centroids: int = 16,
    seed: int = 7,
    train_fraction: float = 1.0,
    max_iter: int = 20,
) -> "list[list[float]]":
    """Train the IVF coarse quantizer and return the centroids as plain
    float lists — the BUILD half of the persisted-index lifecycle
    (``ivf_save_centroids`` / ``ivf_load_centroids`` are the store,
    ``ivf_topk(centroids=...)`` is the search).  Splitting build from
    search is what makes IVF a real index at 100 TB: train once on a
    sample, persist the tiny quantizer (n_centroids × dim floats), and
    every later job — batch or streaming — searches without refitting.

    DataFrame-native Lloyd iteration (the faiss recipe: a few Lloyd
    rounds over a training sample), not a pyspark.ml pipeline: init
    picks the ``n_centroids`` vectors with the smallest seeded xxhash64
    (a deterministic distributed sample, one TakeOrdered job), then
    each round assigns every vector to its nearest centroid with the
    same inlined-literal argmin projection ``ivf_topk`` uses and
    recomputes per-cell elementwise means as a posexplode + (cell,
    dim) avg in ONE groupBy pass — whole-stage codegen end to end, one
    shuffle per round, no Vector conversions, and none of the ML
    pipeline's multi-second first-fit cost (which a gate entry pays in
    full).  The centroid set rides ONE nested array literal through a
    ``transform`` lambda, so the generated code is constant-size in
    ``n_centroids`` and its shape is identical every round (per-
    centroid expression trees made Janino recompile each iteration —
    measured 3 s/round at 8×64).
    Empty cells keep their previous centroid; the loop stops early on
    an exact fixpoint.  Full-probe search stays exact whatever the
    centroid quality, so callers certified by an exact oracle can run
    ``max_iter=2``.  Per-cell means are float sums over shuffled
    partitions, so exact bitwise values across reruns are not
    promised — within-session save/load bit-identity (what the
    persisted-index contract asserts) is."""
    train = corpus.select(
        F.col(corpus_vec).cast("array<double>").alias("v")
    ).filter(F.col("v").isNotNull())
    if train_fraction < 1.0:
        train = train.sample(fraction=train_fraction, seed=seed)
    # Higher-order-function distance kernels are interpreted (no
    # codegen), so a training sample that scans as FEWER partitions
    # than cores runs the whole assignment serially — a profile
    # put ~2 s/round on ONE task for a 1-file 500-row fixture.  Spread
    # small inputs to core count; at scale the sample already has >=
    # core-count partitions and this is a no-op (scale-adaptive, not a
    # local[] constant — guide §2.5 input-skew rule).
    train = spread_small(train).persist()
    try:
        # first materialization doubles as the emptiness check and the
        # seeded init sample — the old separate .first() probe and
        # .count() warm-up were two extra full jobs per train call
        init = (
            train.orderBy(
                F.xxhash64(F.col("v"), F.lit(seed)), F.col("v").cast("string")
            )
            .limit(n_centroids)
            .collect()
        )
        if not init:
            raise ValueError("ivf_train_centroids: empty training corpus")
        dim = len(init[0]["v"])
        cents = [[float(x) for x in r["v"]] for r in init]
        for _ in range(max_iter):
            d = F.transform(_cents_col(cents), lambda c: _sq_dist(F.col("v"), c))
            cell = F.array_position(d, F.array_min(d)).cast("int")
            rows = (
                train.select(
                    cell.alias("cell"),
                    F.posexplode(F.col("v")).alias("pos", "val"),
                )
                .groupBy("cell", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            means: "dict[int, list[float]]" = {}
            for r in rows:
                means.setdefault(int(r["cell"]) - 1, [0.0] * dim)[
                    int(r["pos"])
                ] = float(r["m"])
            nxt = [means.get(i, cents[i]) for i in range(len(cents))]
            if nxt == cents:
                break
            cents = nxt
    finally:
        train.unpersist()
    return cents


def ivf_save_centroids(spark, centroids: "list[list[float]]", path: str) -> None:
    """Persist a trained quantizer as parquet (cell, vector) — engine-
    neutral, versionable beside the corpus it indexes.

    Written DRIVER-SIDE with pyarrow, no Spark job at all: the
    quantizer is n_centroids × dim floats of metadata, exactly the
    "driver does metadata, executors do data" split (guide §5).  The
    createDataFrame routes both cost seconds for 8 rows — the
    pickled path pays a sequential Python-worker round-trip per
    parallelize slice under coalesce(1) (~4 s at local[32]), and the
    pandas/Arrow path silently falls back to pickled rows on any
    session without spark.sql.execution.arrow.pyspark.enabled (the
    correctness driver's plain session — measured 5.5-6.8 s there).
    The pyarrow write is ~0.01 s on every session and
    spark.read.parquet reads the single file unchanged."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    # a previous run (or the old Spark writer) may have left a
    # DIRECTORY at path — pq.write_table writes a single file and
    # would raise on it
    if os.path.isdir(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
    table = pa.table(
        {
            "cell": pa.array(range(len(centroids)), pa.int32()),
            "vector": pa.array(
                [[float(v) for v in c] for c in centroids],
                pa.list_(pa.float64()),
            ),
        }
    )
    pq.write_table(table, path)


def ivf_load_centroids(spark, path: str) -> "list[list[float]]":
    """Load a persisted quantizer; cell order restored by the cell id,
    so search results are identical to the training session's."""
    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [list(r.vector) for r in rows]
