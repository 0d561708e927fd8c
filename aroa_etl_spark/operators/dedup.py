"""Document deduplication operators for training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup.

Every operator is expressed with native Spark column functions (no
Python UDFs anywhere in this module) and designed so an exact DuckDB
oracle exists — both engines share byte-identical md5, so hash-based
candidate generation is deterministic cross-engine.

Scale notes (100 TB posture):
- Exact/fingerprint dedup: one shuffle on the hash key; map-side
  partial aggregation applies.
- MinHash LSH: per-doc signature is a projection (no shuffle); the
  candidate join shuffles on band-bucket keys. Bucket sizes are bounded
  by band width; hot buckets (boilerplate docs) are the skew risk —
  AQE skew-join handles moderate skew, and every banded or
  inverted-index candidate join shares one hot-bucket policy,
  :func:`_hot_buckets`.
- Pair verification (exact Jaccard) runs only on candidate pairs, not
  n² — the whole point of LSH.
- SimHash: banding on bit-slices; same join shape.
- Embedding near-dup: sign-bucket LSH (first k dimension signs) —
  approximate (documented recall loss near decision boundaries);
  brute-force cosine lives in operators/ann.py as the exact baseline.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aroa_etl_spark.functions.text import (
    fingerprint,
    lsh_band_keys,
    minhash_from_hashes,
    shingle_hashes,
    shingles_from,
    simhash32_from,
    token_hashes,
    tokens,
)

# The engine's one operator cache registry: frames persisted as reuse
# barriers by the operators below (and by matching and the stats
# persist=True paths), released by release_caches(). persist() (not
# localCheckpoint) is deliberate: the columnar InMemoryRelation keeps
# stats + whole-stage codegen for the downstream self-joins — measured
# 1.9× faster on the simhash band join than a checkpoint's row-based
# RDD scan at sf0.1. The lock makes append and take-all atomic, so a
# frame registered while release_caches runs is released by this call
# or the next, never dropped from the registry while still persisted.
_CACHED_FRAMES: list[DataFrame] = []
_CACHED_FRAMES_LOCK = threading.Lock()


def _barrier(df: DataFrame) -> DataFrame:
    """Persist ``df`` as an optimizer barrier + reuse point and register
    it for :func:`release_caches`."""
    df = df.persist()
    with _CACHED_FRAMES_LOCK:
        _CACHED_FRAMES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every frame registered by :func:`_barrier` since the
    last call — the dedup and matching barriers and the
    ``stats``/``evaluation`` ``persist=True`` frames alike.  Call after
    the final action on the result (the frames are plan-internal, so
    the operators themselves can never know when the caller is done).
    Returns the number of frames released."""
    with _CACHED_FRAMES_LOCK:
        frames = _CACHED_FRAMES[:]
        _CACHED_FRAMES.clear()
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups via hash-groupBy on the raw text.

    Returns (id, group_rep, group_size, is_duplicate): group_rep is the
    minimum id of the identical-text group; rows with id != group_rep
    are duplicates. One shuffle on md5(text)."""
    keyed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
    groups = keyed.groupBy("__h").agg(
        F.min(id_col).alias("group_rep"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        keyed.join(groups, "__h")
        .select(
            id_col,
            "group_rep",
            "group_size",
            (F.col(id_col) != F.col("group_rep")).alias("is_duplicate"),
        )
    )


def fingerprint_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Near-exact dedup on the sorted-distinct-token fingerprint —
    catches word-order shuffles and repetition, same shape as
    exact_dedup."""
    keyed = df.select(F.col(id_col), fingerprint(text_col).alias("__h"))
    groups = keyed.groupBy("__h").agg(
        F.min(id_col).alias("group_rep"), F.count(F.lit(1)).alias("group_size")
    )
    return keyed.join(groups, "__h").select(
        id_col,
        "group_rep",
        "group_size",
        (F.col(id_col) != F.col("group_rep")).alias("is_duplicate"),
    )


def _jaccard_filter(
    pairs: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard verification of candidate pairs →
    (id_a, id_b, n_intersect, n_union) for pairs ≥ threshold. ``sh`` is
    the materialized (id, __sh distinct-shingle-array) frame — shared
    with candidate generation so shingling runs once.

    Sizes are integers (hash-stable); the threshold compare happens on
    the exact rational i/u in double — identical in any IEEE engine."""
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_intersect"),
            F.size(F.array_union("__sa", "__sb")).alias("n_union"),
        )
        .filter(
            (F.col("n_union") > 0)
            & (F.col("n_intersect").cast("double") / F.col("n_union").cast("double")
               >= F.lit(threshold))
        )
    )


def _check_hot_mode(hot_bucket_mode: str) -> None:
    """Reject an unknown ``hot_bucket_mode``; operators call it before
    their first barrier so a bad mode registers no cached frame."""
    if hot_bucket_mode not in ("drop", "salt"):
        raise ValueError("hot_bucket_mode must be 'drop' or 'salt'")


def _hot_buckets(
    rows: DataFrame,
    keys,
    *,
    max_bucket_size: int | None,
    hot_bucket_mode: str,
    observation,
):
    """The hot-bucket policy of every banded or inverted-index candidate
    join in this module → ``(keep, hot)``.

    A bucket of size s puts s² candidate pairs on one task, and real
    corpora grow boilerplate buckets (one template page, an empty-doc
    pile, a constant-embedding batch).  ``rows`` holds one row per
    bucket membership over ``keys`` (a column name or a list — the
    (block, shingle) postings use a composite key); buckets with more
    than ``max_bucket_size`` rows are hot.  ``hot_bucket_mode`` picks
    the handling:

    - ``"salt"`` (default): hot buckets are PROCESSED through
      :func:`_bucket_join`'s two-sided salted join — row-identical to
      ``max_bucket_size=None``, so pair sets and intersection counts do
      not change, while each hot bucket's quadratic work spreads over
      ``hot_salt`` shuffle partitions.  Boilerplate buckets are where
      template-heavy corpora keep their wanted duplicates, so silent
      recall loss is the wrong default.
    - ``"drop"``: hot buckets are discarded — cheapest, an explicit
      recall trade (pairs that share only hot buckets are lost, and
      inverted-index intersections undercount).

    ``observation`` (optional ``pyspark.sql.Observation``) is attached
    to the bucket-size aggregation: after the caller's first action it
    holds ``hot_buckets`` (buckets over the cap) and ``hot_bucket_rows``
    (rows inside them) — the dropped work in drop mode, the salted work
    in salt mode.  The observed subplan must execute exactly once: the
    hot set feeds several joins (both self-join sides, the salted
    split's anti/semi quadrants), and a multi-referenced CollectMetrics
    corrupts the metrics or throws depending on exchange reuse.  So
    under an Observation the hot set is filled eagerly through a
    barrier (``count()`` runs the whole aggregation), and drop mode
    anti-joins that cached set instead of re-deriving the cold buckets.

    Healthy corpora have no hot bucket, and the salted split's extra
    anti/semi/explode stages then cost a measured ~11% on the minhash
    entry for nothing, so an empty hot set takes the plain equi-join.
    Without an Observation emptiness is an ``isEmpty()`` probe; with one
    the count is already known (a ``take(1)`` would freeze partial
    metrics).

    ``keep(frame)`` removes hot keys from ``frame`` in drop mode and is
    the identity otherwise; ``hot`` is the key frame to salt, or
    ``None`` for the plain join.  With ``max_bucket_size=None`` nothing
    is sized: ``(identity, None)``."""
    _check_hot_mode(hot_bucket_mode)
    keys = [keys] if isinstance(keys, str) else list(keys)
    if max_bucket_size is None:
        return (lambda frame: frame), None
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bs"))
    is_hot = F.col("__bs") > max_bucket_size
    if observation is not None:
        sizes = sizes.observe(
            observation,
            F.sum(is_hot.cast("long")).alias("hot_buckets"),
            F.sum(F.when(is_hot, F.col("__bs")).otherwise(F.lit(0))).alias(
                "hot_bucket_rows"
            ),
        )
        hot = _barrier(sizes.filter(is_hot).select(*keys))
        n_hot = hot.count()
    else:
        hot = sizes.filter(is_hot).select(*keys)
        n_hot = None
    if hot_bucket_mode == "drop":
        if observation is not None:
            return (lambda frame: frame.join(hot, keys, "left_anti")), None
        cold = sizes.filter(F.col("__bs") <= max_bucket_size).select(*keys)
        return (lambda frame: frame.join(cold, keys)), None
    if n_hot == 0 or (observation is None and hot.isEmpty()):
        hot = None
    return (lambda frame: frame), hot


def _bucket_join(a: DataFrame, b: DataFrame, keys, hot, salt: int) -> DataFrame:
    """``a.join(b, keys)``, salted over the ``hot`` keys when
    :func:`_hot_buckets` returned any.  The salted join replicates
    ``b``'s hot rows ``salt`` times, so ``b`` is the side with fewer hot
    rows."""
    if hot is None:
        return a.join(b, keys)
    from aroa_etl_spark.operators.skew import salted_hot_join

    return salted_hot_join(a, b, keys, hot, salt=salt)


def _inverted_index_intersections(
    ex: DataFrame,
    id_col: str,
    key_cols: list,
    *,
    max_bucket_size: int | None,
    hot_bucket_mode: str,
    hot_salt: int,
    observation,
) -> DataFrame:
    """(id_a, id_b, n_intersect) from an inverted-index self-join of the
    posting frame ``ex`` (one row per (id, *key_cols) posting) — the
    shared candidate-generation core of the containment and blocked
    Jaccard paths.  Hot (block, shingle) keys follow
    :func:`_hot_buckets`: one boilerplate shingle shared by 10k docs in
    a block is ~5·10⁷ pair rows on a single task."""
    if max_bucket_size is not None:
        ex = _barrier(ex)  # sizing + both join sides read the postings
    keep, hot = _hot_buckets(
        ex,
        key_cols,
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    ex = keep(ex)
    left = ex.select(F.col(id_col).alias("id_a"), *key_cols)
    right = ex.select(F.col(id_col).alias("id_b"), *key_cols)
    joined = _bucket_join(left, right, key_cols, hot, hot_salt)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_intersect"))
    )


def _lsh_shingles_and_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared shingle → signature → banded-bucket-key pipeline: returns
    (sh, keys) where ``sh`` is the persisted (id, __sh) distinct-shingle
    frame (feeds Jaccard verification) and ``keys`` the persisted
    (id, __bucket) band-key frame (feeds candidate joins).  See the
    barrier notes in :func:`minhash_lsh_dedup`."""
    rows = num_perm // bands
    # spread_small: tokenize + shingle + array_distinct (and the
    # signature/band-key higher-order lambdas over the persisted frame,
    # which inherit its partitioning) otherwise evaluate serially under
    # a small single-file scan's ONE partition (guide §2.5 input skew;
    # pass-through at scale — the same template as simhash)
    from aroa_etl_spark.operators.skew import spread_small

    sh = (
        spread_small(df).select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            F.col(id_col), F.array_distinct(shingles_from("__t", shingle_n)).alias("__sh")
        )
        .transform(_barrier)
        .filter(F.size("__sh") > 0)
    )
    sig = sh.select(
        F.col(id_col), "__sh", shingle_hashes("__sh").alias("__hh")
    ).select(
        F.col(id_col), "__sh", minhash_from_hashes("__hh", num_perm).alias("__sig")
    )
    keys = sig.select(
        F.col(id_col),
        F.explode(lsh_band_keys(F.col("__sig"), bands, rows)).alias("__bucket"),
    )
    return sh, _barrier(keys)


def minhash_lsh_incremental(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
    hot_bucket_mode: str = "salt",
    hot_salt: int = 16,
    observation=None,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: near-dup pairs INVOLVING AT LEAST
    ONE NEW DOCUMENT, against an already-ingested corpus — the realistic
    100 TB workflow (a new crawl batch dedups against the indexed corpus
    without re-pairing the corpus against itself).

    Hot buckets follow :func:`_hot_buckets`, sized over new ∪ index keys.

    Candidates = (new x index bucket equi-join) ∪ (new x new
    self-join); every pair is emitted in canonical (least, greatest) id
    order and verified with exact Jaccard.  Because minhash signatures
    and band keys are PER-DOCUMENT, the result equals
    :func:`minhash_lsh_dedup` over ``index ∪ new`` restricted to pairs
    touching a new doc — which is what the catalog oracle replays.

    At scale the index side's (id, bucket) keys are a persisted table
    maintained across batches (write keys once per ingested batch; this
    function recomputes them from text for self-containment); the
    index x index quadrant — the overwhelming bulk at 100 TB — is never
    joined at all.  Ids must be disjoint between the two frames.
    """
    _check_hot_mode(hot_bucket_mode)
    sh_new, keys_new = _lsh_shingles_and_keys(
        new_docs, id_col, text_col, num_perm, bands, shingle_n
    )
    sh_idx, keys_idx = _lsh_shingles_and_keys(
        index_docs, id_col, text_col, num_perm, bands, shingle_n
    )

    keep, hot = _hot_buckets(
        keys_new.select("__bucket").unionAll(keys_idx.select("__bucket")),
        "__bucket",
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    a_new = keep(keys_new.select(F.col(id_col).alias("__ia"), "__bucket"))
    b_idx = keep(keys_idx.select(F.col(id_col).alias("__ib"), "__bucket"))
    b_new = keep(keys_new.select(F.col(id_col).alias("__ib"), "__bucket"))
    # the NEW batch (small in the incremental workflow) is the replicated
    # side; the index, where hot boilerplate buckets mostly live, only
    # scatters
    cross = _bucket_join(b_idx, a_new, "__bucket", hot, hot_salt)
    self_new = _bucket_join(a_new, b_new, "__bucket", hot, hot_salt).filter(
        F.col("__ia") < F.col("__ib")
    )
    pairs = (
        cross.unionByName(self_new)
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
        )
        .distinct()
    )
    sh_union = sh_new.unionByName(sh_idx)
    return _jaccard_filter(pairs, sh_union, id_col, threshold)


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
    hot_bucket_mode: str = "salt",
    hot_salt: int = 16,
    observation=None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard-verified.

    shingle → md5-based universal-hash minhash signature → band buckets
    → bucket equi-join for candidates (id_a < id_b) → exact Jaccard ≥
    threshold.
    Returns (id_a, id_b, n_intersect, n_union).

    Hot buckets (``max_bucket_size``, ``hot_bucket_mode``, ``hot_salt``,
    ``observation``) follow :func:`_hot_buckets`.
    """
    _check_hot_mode(hot_bucket_mode)
    # Materialize tokens, then distinct shingles, as separate projections
    # (see shingles_from) and persist via _barrier: the shingle frame
    # feeds signature computation AND both sides of the Jaccard
    # verification join; the key frame feeds both sides of the candidate
    # self-join. The per-doc tables are tiny relative to the corpus
    # (id + hashes); release_caches() frees them after the caller's
    # final action.
    # NOTE the filter comes AFTER the barrier: a filter below the
    # projection would be pushed through the alias, substituting the
    # whole shingle pipeline into an interpreted per-row predicate
    # (measured 7× cost). The persisted frame is an optimizer barrier;
    # the filter then reads the stored arrays.
    sh, keys = _lsh_shingles_and_keys(
        df, id_col, text_col, num_perm, bands, shingle_n
    )

    keep, hot = _hot_buckets(
        keys,
        "__bucket",
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    keys = keep(keys)
    left = keys.select(F.col(id_col).alias("id_a"), "__bucket")
    right = keys.select(F.col(id_col).alias("id_b"), "__bucket")
    joined = _bucket_join(left, right, "__bucket", hot, hot_salt)
    pairs = (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_filter(pairs, sh, id_col, threshold)


def edit_distance_verify(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    block_tokens: int = 3,
    prefix_len: int = 120,
    max_dist: int = 20,
) -> DataFrame:
    """Blocked candidate pairs verified by bounded-prefix edit distance.

    The Levenshtein verify stage real dedup pipelines run after a
    cheap blocking pass: token-level fingerprints (Jaccard/MinHash)
    miss character-level edits — OCR noise, small insertions, mojibake
    repairs — that edit distance catches.  Two cost bounds make it
    scale:

    - **blocking**: candidates share an md5 over the LAST
      ``block_tokens`` whitespace tokens (a suffix fingerprint —
      survives head edits and truncation, the common near-dup shape),
      so the self-join is an equi-join on a high-cardinality key, never
      a cross product;
    - **bounded DP**: the distance runs on the first ``prefix_len``
      characters only.  Full-document Levenshtein is O(len²) PER PAIR —
      at 100 TB that dominates everything; the capped prefix keeps the
      per-pair cost constant while still separating near-dups (small
      distance) from block-key collisions (distance ≈ prefix_len).

    Both `levenshtein` and the blocking expressions are JVM built-ins
    (whole-stage codegen, no Python).  Returns ``(id_a, id_b,
    edit_distance)`` for pairs with distance ≤ ``max_dist``.  Docs with
    fewer than ``block_tokens`` tokens have no suffix fingerprint and
    are excluded (exact duplicates among them belong to exact_dedup)."""
    from aroa_etl_spark.functions.text import tokens as _tokens

    toks = _tokens(text_col)
    base = df.filter(F.size(toks) >= block_tokens).select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, prefix_len).alias("__prefix"),
        F.md5(
            F.concat_ws(" ", F.slice(toks, -block_tokens, block_tokens))
        ).alias("__bkey"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("__prefix").alias("__pa"), "__bkey"
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("__prefix").alias("__pb"), "__bkey"
    )
    return (
        a.join(b, "__bkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__pa", "__pb").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_dist)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    winnow_window: int = 4,
    max_bucket_size: int | None = 1000,
    hot_bucket_mode: str = "salt",
    hot_salt: int = 16,
    observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join within blocks.

    With ``block_col`` (e.g. lang or source) pairs come from an
    inverted-index join on (block, shingle) — only docs sharing a
    shingle inside a block pair up, and the intersection size is a
    map-side-combinable count (``threshold == 0`` joins on the block
    alone, a per-block cross product, since zero-overlap pairs must then
    appear). Without it, candidates come from shared WINNOWING fingerprints
    (window minima over the shingle-hash sequence): any two docs
    sharing a run of ``winnow_window``+n-1 tokens share a fingerprint,
    so near-dups are caught regardless of where the overlap sits —
    strictly better recall than the previous opening-n-gram key at the
    same join shape. Hot winnowing-fingerprint buckets, hot blocked
    (block, shingle) posting lists and, at ``threshold == 0``, hot
    blocks follow :func:`_hot_buckets`.
    Returns (id_a, id_b, n_intersect, n_union) for Jaccard ≥ threshold.
    """
    _check_hot_mode(hot_bucket_mode)
    sh = (
        df.select(
            F.col(id_col),
            *([F.col(block_col)] if block_col is not None else []),
            tokens(text_col).alias("__t"),
        )
        .select(
            F.col(id_col),
            *([F.col(block_col)] if block_col is not None else []),
            shingles_from("__t", n).alias("__sq"),  # sequence order (winnowing)
        )
        .select(
            F.col(id_col),
            *([F.col(block_col)] if block_col is not None else []),
            "__sq",
            F.array_distinct(F.col("__sq")).alias("__sh"),
        )
        .transform(_barrier)
    )
    if block_col is not None and threshold > 0:
        # Inverted-index join: explode distinct shingles and equi-join on
        # (block, shingle); n_intersect falls out of a map-side-combinable
        # count and n_union from precomputed set sizes. Only pairs sharing
        # ≥1 shingle are ever materialized — output-sensitive, unlike the
        # all-pairs-per-block shape, whose quadratic candidate list is a
        # scale-killer on large blocks. Jaccard ≥ threshold > 0 implies a
        # shared shingle, so the result set is identical.
        ex = sh.select(
            F.col(id_col), F.col(block_col).alias("__b"), F.explode("__sh").alias("__s")
        )
        sizes = sh.select(F.col(id_col), F.size("__sh").alias("__sz"))
        inter = _inverted_index_intersections(
            ex,
            id_col,
            ["__b", "__s"],
            max_bucket_size=max_bucket_size,
            hot_bucket_mode=hot_bucket_mode,
            hot_salt=hot_salt,
            observation=observation,
        )
        return (
            inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__za")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__zb")), "id_b")
            .select(
                "id_a",
                "id_b",
                F.col("n_intersect"),
                (F.col("__za") + F.col("__zb") - F.col("n_intersect")).alias("n_union"),
            )
            .filter(
                F.col("n_intersect").cast("double") / F.col("n_union").cast("double")
                >= F.lit(threshold)
            )
        )
    if block_col is not None:
        # threshold == 0: every in-block pair with a non-empty union must
        # appear, including zero-intersection ones — the inverted index
        # can't see those, so the block itself is the join key
        k = sh.select(F.col(id_col), F.col(block_col).alias("__k"))
    else:
        from aroa_etl_spark.functions.text import with_winnowing_fingerprints

        k = with_winnowing_fingerprints(
            sh.select(F.col(id_col), "__sq"), "__sq", "__wfp", window=winnow_window
        ).select(F.col(id_col), F.explode("__wfp").alias("__k"))
        if max_bucket_size is not None:
            k = _barrier(k)  # sizing + splits + both join sides read it
    keep, hot = _hot_buckets(
        k,
        "__k",
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    k = keep(k)
    left = k.select(F.col(id_col).alias("id_a"), "__k")
    right = k.select(F.col(id_col).alias("id_b"), "__k")
    joined = _bucket_join(left, right, "__k", hot, hot_salt)
    pairs = (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_filter(pairs, sh.select(id_col, "__sh"), id_col, threshold)


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    hash_bits: int = 60,
    n_bands: int = 4,
    max_bucket_size: int | None = 1000,
    hot_bucket_mode: str = "salt",
    hot_salt: int = 16,
    observation=None,
) -> DataFrame:
    """SimHash near-duplicate pairs: ``hash_bits``-bit simhash, banded
    into ``n_bands`` equal slices (two docs within hamming distance
    n_bands - 1 must agree on ≥1 slice — pigeonhole; larger
    ``max_hamming`` keeps the verify exact but makes banding a recall
    trade), candidates verified by exact bit_count(xor) ≤ max_hamming.
    Returns (id_a, id_b, hamming).

    Band width is THE scale lever: per-band bucket occupancy is
    ~corpus / 2^(hash_bits/n_bands) and candidate pairs grow with its
    square.  The 60-bit default (15-bit bands) keeps buckets sparse
    into the billions of docs; an sf1 stress run measured a
    32-bit/8-bit config going quadratic at 50k docs (41 s; 256-value
    band space → ~200 docs per bucket).  60 = 15 hex chars of md5 —
    the engine's BIGINT-safe cross-engine hash family.

    Hot bands (thousands of empty docs all simhashing to 0) follow
    :func:`_hot_buckets`.
    """
    if hash_bits % 4 or hash_bits % n_bands or not (0 < hash_bits <= 60):
        raise ValueError(
            "hash_bits must be ≤60 (BIGINT-safe), a multiple of 4 (hex "
            "chars), and divisible by n_bands (equal band widths)"
        )
    _check_hot_mode(hot_bucket_mode)
    band_bits = hash_bits // n_bands
    # SimHash via explode + grouped bit-votes rather than nested array
    # folds: flat codegen-friendly expressions, map-side partial
    # aggregation, one shuffle on the doc id — the shape that scales.
    # explode_outer keeps empty docs (null token → null votes → all bits
    # 0, matching simhash32's empty→0 contract).
    # spread_small: tokenize + per-token md5 + the 60-column partial
    # vote aggregation all run scan-side, before the doc-id exchange —
    # a small single-file input would evaluate them serially on one
    # task (input skew; pass-through at scale)
    from aroa_etl_spark.operators.skew import spread_small

    tok = spread_small(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("__tok")
    )
    h = tok.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("__tok"), 1, hash_bits // 4), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    # vote via ONES-COUNT, not +1/-1 conditionals: sum((h>>b)&1) drops
    # the per-row 60-way when/otherwise chain from the partial-agg
    # update path (1.88 s -> 1.46 s interleaved on the sf0.1 vote
    # stage).  bit set <=> votes_b > 0 <=> 2*ones_b > n —
    # exact integer equivalence, ties and the empty-doc contract
    # included (empty doc: the explode_outer null row makes n=1,
    # ones NULL->0, 0 > 1 false -> sh=0, same as the -1 vote form).
    votes = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))).alias(f"__o{b}")
            for b in range(hash_bits)
        ],
    )
    simhash_col = None
    for b in range(hash_bits):
        bit = F.when(
            F.coalesce(F.col(f"__o{b}"), F.lit(0)) * 2 > F.col("__n"),
            F.lit(2**b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        simhash_col = bit if simhash_col is None else simhash_col + bit
    # NOT barriered: sh has exactly one consumer (banded, which IS
    # persisted below) — a cache here only added a second
    # InMemoryRelation fill pass for rows banded already holds
    sh = votes.select(F.col(id_col), simhash_col.alias("__sh"))
    mask = (1 << band_bits) - 1
    banded = sh.select(
        F.col(id_col),
        "__sh",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.shiftright(F.col("__sh"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    )
    banded = _barrier(banded)  # feeds both join sides + the size agg
    keep, hot = _hot_buckets(
        banded,
        "__band",
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    banded = keep(banded)
    left = banded.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__ha"), "__band")
    right = banded.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__hb"), "__band")
    joined = _bucket_join(left, right, "__band", hot, hot_salt)
    return (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    sign_dims: int | None = None,
    n_bands: int = 1,
    threshold: float = 0.95,
    max_bucket_size: int | None = 1000,
    hot_bucket_mode: str = "salt",
    hot_salt: int = 16,
    observation=None,
) -> DataFrame:
    """Embedding near-duplicates via sign-bucket LSH + exact cosine.

    Band b's bucket key = concatenated signs of dimensions
    [b*sign_dims, (b+1)*sign_dims) — a fixed axis-aligned hyperplane
    family, deterministic, no random state.  Candidates are pairs
    agreeing on ≥1 band (minhash-style OR-of-ANDs); each candidate is
    verified with exact double-precision cosine ≥ threshold.  Returns
    (id_a, id_b) pairs.

    Scale and recall levers (an sf1 stress run measured a
    single fixed 8-dim key going 17x at 10x data — 256 buckets
    saturate):

    - ``sign_dims`` (band width): per-band bucket occupancy is
      ~corpus / 2^sign_dims and candidate pairs grow with its square —
      widen as the corpus grows.
    - ``n_bands``: each extra band is another independent chance for a
      near-dup pair to collide (a pair is missed only if EVERY band
      has a flipped sign), recovering the recall a wider band costs,
      at explode-factor n_bands shuffle cost.
    - Defaults: ``sign_dims=None`` auto-sizes the band width from a
      1-row count probe — ceil(log2(n / 4)) clamped to [8, 20], ~4
      vectors per band bucket at any corpus size; ``n_bands=1``
      preserves the leading-signs semantics of the oracle-attested
      entries (pass 4 for the banded high-recall mode).

    Vectors whose banded dims sit near 0 can still flip across the
    boundary — the residual documented recall loss; use
    ann.brute_force_topk as the exact baseline.

    Hot sign-buckets (a zero-vector pile, a constant-embedding batch
    bug) follow :func:`_hot_buckets`; auto-banding's ~4-per-bucket
    sizing makes that a safety net.
    """
    _check_hot_mode(hot_bucket_mode)
    # dims past the vector length read NULL via element_at -> constant
    # "0" bits -> degraded selectivity toward the all-pairs blowup the
    # probe exists to prevent; the dimensionality check therefore runs
    # for EVERY band count (n_bands == 1 included).  Auto-sized widths
    # clamp to the vector length; explicit oversized values raise.
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = first["d"] if first is not None else 0
    if sign_dims is None:
        import math

        n = df.count()  # metadata-scale probe, same pattern as split probes
        sign_dims = min(20, max(8, math.ceil(math.log2(max(n, 1) / 4 or 1))))
        if dim and n_bands * sign_dims > dim:
            sign_dims = max(1, dim // n_bands)
    if dim and n_bands * sign_dims > dim:  # empty input: nothing to bucket
        raise ValueError(
            f"n_bands*sign_dims = {n_bands * sign_dims} exceeds the "
            f"embedding dimensionality {dim}; lower one of them"
        )

    def band_key(b: int):
        return F.concat_ws(
            "",
            F.lit(f"{b}:"),
            *[
                F.when(
                    F.element_at(F.col(vec_col), b * sign_dims + i + 1) >= 0,
                    F.lit("1"),
                ).otherwise(F.lit("0"))
                for i in range(sign_dims)
            ],
        )

    k = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(F.array(*[band_key(b) for b in range(n_bands)])).alias("__k"),
    )
    # sizes scan the key projection only (no vectors) — a narrow
    # recompute, deliberately NOT cached: the vector payload in k is the
    # expensive part and never feeds the size agg
    keep, hot = _hot_buckets(
        k.select("__k"),
        "__k",
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    k = keep(k)
    a = k.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "__k")
    b = k.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "__k")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    pairs = _bucket_join(a, b, "__k", hot, hot_salt).filter(F.col("id_a") < F.col("id_b"))
    if n_bands > 1:
        # a pair can collide in several bands: dedup BEFORE the cosine
        # verify so each candidate is scored once
        pairs = pairs.select("id_a", "id_b", "__va", "__vb").distinct()
    return (
        pairs.withColumn(
            "__cos",
            dot(F.col("__va"), F.col("__vb"))
            / (F.sqrt(dot(F.col("__va"), F.col("__va")))
               * F.sqrt(dot(F.col("__vb"), F.col("__vb")))),
        )
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_repeat: int = 3,
) -> DataFrame:
    """Corpus-wide LINE-level dedup (the C4/GPT-3 recipe: Raffel et al.
    2020 §2.2 removed any three-sentence span occurring more than once;
    here the unit is the newline-delimited line): a line occurring in
    ``min_repeat`` or more places corpus-wide — boilerplate navigation,
    footers, license headers — is dropped from every document EXCEPT its
    first occurrence (minimum ``(id, line_index)``, a total order, so
    the keeper is deterministic). Documents keep their remaining lines
    in original order; all other columns pass through.

    Plan shape: posexplode lines -> ONE groupBy on md5(line) computing
    (count, min keeper) with map-side partial agg -> hash join back on
    the line hash -> one groupBy on id to reassemble. Linear in corpus
    size, no pairwise work — the same two-shuffle shape as chunk-level
    dedup one granularity up.
    """
    other_cols = [c for c in df.columns if c != text_col]
    lines = df.select(
        *other_cols,
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("__idx", "__line"),
    ).select(*other_cols, "__idx", "__line", F.md5(F.col("__line")).alias("__h"))
    stats = lines.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col), F.col("__idx"))).alias("__keep"),
    )
    kept = lines.join(stats, "__h").filter(
        (F.col("__cnt") < min_repeat)
        | (
            (F.col(id_col) == F.col("__keep")[id_col])
            & (F.col("__idx") == F.col("__keep")["__idx"])
        )
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__idx", "__line"))),
                    lambda s: s["__line"],
                ),
                "\n",
            ).alias(text_col),
            F.count(F.lit(1)).cast("bigint").alias("n_lines_kept"),
        )
    )
    passthrough = df.select(*other_cols).dropDuplicates([id_col])
    return passthrough.join(rebuilt, id_col, "left").select(
        *other_cols,
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one word n-gram with an evaluation corpus (the GPT-3
    recipe — Brown et al. 2020 Appendix C removed train docs with a
    13-gram collision against the eval sets; n is the caller's
    contract, 13 for real corpora, smaller for short-doc tests).

    Plan shape: both sides explode to distinct n-gram md5 hashes; the
    benchmark's hash set — eval suites are MBs against a multi-TB
    train corpus — is broadcast, so the containment check is a
    broadcast LEFT SEMI join on the train side with NO shuffle of the
    training corpus; flagged ids then broadcast back onto the full
    rows.  Returns ``train`` + ``is_contaminated`` boolean.
    """
    def grams(df: DataFrame, cols: list):
        # materialize tokens in their own projection BEFORE shingling —
        # shingles_from over an inline tokenizer re-evaluates the full
        # split per shingle (see functions/text.py shingles_from notes)
        return (
            df.select(*cols, tokens(text_col).alias("__t"))
            .select(
                *cols,
                F.explode(F.array_distinct(shingles_from("__t", n))).alias("__g"),
            )
            .select(*cols, F.md5("__g").alias("__gh"))
        )

    bm = F.broadcast(grams(benchmark, []).select("__gh").distinct())
    hit_ids = (
        grams(train, [F.col(id_col)])
        .join(bm, "__gh", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        train.join(F.broadcast(hit_ids), id_col, "left")
        .withColumn("is_contaminated", F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__hit")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    threshold_pct: int = 80,
    block_col: str = "source",
    max_bucket_size: int | None = 1000,
    hot_bucket_mode: str = "salt",
    hot_salt: int = 16,
    observation=None,
) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT — the
    doc-inside-doc case Jaccard structurally misses: a paragraph fully
    embedded in a 100x-longer page has Jaccard ~ |A|/|B| ~ 0.01 (below
    any resemblance threshold) but containment |A∩B|/min(|A|,|B|) = 1.0
    (Broder 1997's resemblance-vs-containment distinction; quote/
    boilerplate/excerpt dedup in crawl corpora is the containment
    problem).

    Emits (id_a, id_b, n_intersect, sz_a, sz_b, containment) for pairs
    within a block where the SMALLER shingle set is at least
    ``threshold_pct``% covered by the intersection. The gate compares
    ``100·|A∩B| >= pct·min(|A|,|B|)`` in exact integer arithmetic —
    the rounded containment double is display-only, never a filter.

    Plan: the same output-sensitive inverted-index shape as
    ngram_jaccard_pairs' blocked path — explode distinct shingles,
    equi-join on (block, shingle), map-side-combinable intersection
    count, sizes joined back. Only pairs sharing >= 1 shingle ever
    materialize; containment >= pct > 0 implies a shared shingle, so
    blocking loses nothing.

    Hot (block, shingle) buckets follow :func:`_hot_buckets`.
    Boilerplate shingles are exactly where containment dedup lives."""
    if not 1 <= threshold_pct <= 100:
        raise ValueError(f"threshold_pct must be in [1, 100], got {threshold_pct}")
    _check_hot_mode(hot_bucket_mode)
    # tokens materialize in their OWN projection first: shingles_from's
    # documented contract — an inline tokenizer re-splits the text once
    # per shingle (measured 5x slowdown; see functions/text.py)
    sh = (
        df.select(
            F.col(id_col),
            F.col(block_col).alias("__b"),
            tokens(text_col).alias("__t"),
        )
        .select(
            F.col(id_col),
            "__b",
            F.array_distinct(shingles_from("__t", n)).alias("__sh"),
        )
        .transform(_barrier)
    )
    ex = sh.select(F.col(id_col), "__b", F.explode("__sh").alias("__s"))
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__sz"))
    inter = _inverted_index_intersections(
        ex,
        id_col,
        ["__b", "__s"],
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        hot_salt=hot_salt,
        observation=observation,
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("sz_b")), "id_b")
        .filter(
            100 * F.col("n_intersect")
            >= threshold_pct * F.least(F.col("sz_a"), F.col("sz_b"))
        )
    )
    return out.select(
        "id_a",
        "id_b",
        "n_intersect",
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        F.round(
            F.col("n_intersect").cast("double")
            / F.least(F.col("sz_a"), F.col("sz_b")).cast("double"),
            6,
        ).alias("containment"),
    )
