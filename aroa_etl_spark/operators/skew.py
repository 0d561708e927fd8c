"""Skew-mitigation utilities for large joins (100 TB posture).

AQE's skew-join splitting (on in `session.get_spark`) handles moderate
runtime skew in sort-merge joins; these helpers cover the cases AQE
can't:

- ``salted_join``: explicit key salting for a *known* hot-key join where
  the small side fits replication — the large side scatters each key
  across ``salt`` sub-partitions deterministically, the small side is
  replicated once per salt value, and the join key becomes
  (key, salt). Row-identical to the plain inner/left join.
- ``top_keys``: the metadata-scale probe that finds the hot keys worth
  salting (run on a sample at scale).
- ``salted_hot_join``: two-sided salting for joins where BOTH sides can
  be large on a few known-hot keys (hot surname blocks, degenerate LSH
  buckets — the reference's production pain point,
  person_clustering.py:160-166): hot-key rows of one side scatter over
  ``salt`` sub-keys, the other side's hot-key rows replicate ``salt``
  ways, cold keys join plainly, and the union is row-identical to the
  plain join while the hot key's quadratic work spreads across ``salt``
  shuffle partitions instead of one straggler task.

Reference analogue: none (single-process pandas has no shuffles); this
is part of the engine's Spark-native scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def spread_small(df: DataFrame) -> DataFrame:
    """Round-robin a frame up to core-count partitions when its plan
    yields FEWER — the input-skew mitigation of guide §2.5 for heavy
    per-row kernels (interpreted higher-order lambdas, per-gram md5,
    per-blob decoders) that run scan-side, BEFORE any exchange: a small
    single-file parquet input scans as ONE partition, so the kernel
    evaluates serially on one core however many the session has.

    Scale-adaptive by construction, not a local[] constant: any corpus
    at scale already plans >= defaultParallelism partitions and passes
    through untouched, so no shuffle is ever added to a big scan; at
    fixture scale the repartition moves a few MB once and the kernel
    parallelizes (measured: the classifier-scoring scan 2.5 s
    serial -> ~0.3 s spread at sf0.1)."""
    sc = df.sparkSession.sparkContext
    dp = sc.defaultParallelism
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning quirk: keep the input
        return df
    if 0 < nparts < dp:
        return df.repartition(dp)
    return df


def top_keys(df: DataFrame, key: str, n: int = 20) -> DataFrame:
    """(key, cnt) for the n heaviest keys — the salting candidates.
    One aggregation; run over a ``.sample`` at scale."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt")).orderBy(
        F.desc("cnt"), F.asc(key)
    ).limit(n)


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join with the key salted ``salt`` ways: the large side adds a
    DETERMINISTIC salt (hash of the whole row modulo ``salt`` — stable
    under retries, unlike ``rand()``), the small side cross-joins the
    salt range (×``salt`` replication), and the equi-join runs on
    (key, salt) so one hot key spreads over ``salt`` shuffle partitions.

    Result is row-identical to ``large.join(small, key, how)`` for
    ``inner`` and ``left`` (the supported modes — right/outer would need
    salt-aware null handling on the replicated side).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    if salt < 1:
        raise ValueError("salt must be >= 1 (pmod by 0 is NULL — every row lost)")
    salt_col = F.pmod(F.hash(*[F.col(c) for c in large.columns]), F.lit(salt))
    big = large.withColumn("__salt", salt_col)
    # Replicate the small side once per salt value with explode — a
    # narrow generator, so no join operator (the earlier broadcast cross
    # join materialized as a BroadcastNestedLoopJoin in the plan).
    rep = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return big.join(rep, [key, "__salt"], how).drop("__salt")


def salted_hot_join(
    a: DataFrame,
    b: DataFrame,
    key: str | list[str],
    hot_keys: DataFrame,
    *,
    salt: int = 16,
) -> DataFrame:
    """Inner equi-join row-identical to ``a.join(b, key)`` where the keys
    listed in ``hot_keys`` (a small frame holding just the key columns —
    from :func:`top_keys` or a size aggregation) are processed salted:

    - cold keys: plain equi-join (anti-join split against the broadcast
      hot-key list);
    - hot keys: ``a``'s rows scatter deterministically over ``salt``
      sub-keys (hash of all of ``a``'s columns — stable under retries),
      ``b``'s rows replicate once per salt value via a narrow explode,
      and the join runs on (key, salt).

    Each hot key's |a_k| x |b_k| work spreads over ``salt`` partitions;
    replication cost is ``salt`` x |b's hot rows| only (cold rows are
    never replicated), so put the side with fewer hot rows as ``b``.
    The two sub-joins read disjoint key sets, so the union needs no
    dedup beyond what the plain join would produce.
    """
    if salt < 1:
        raise ValueError("salt must be >= 1 (pmod by 0 is NULL — every hot pair lost)")
    keys = [key] if isinstance(key, str) else list(key)
    hot = F.broadcast(hot_keys.select(*keys).distinct())
    a_cold = a.join(hot, keys, "left_anti")
    b_cold = b.join(hot, keys, "left_anti")
    cold = a_cold.join(b_cold, keys)

    salt_col = F.pmod(F.hash(*[F.col(c) for c in a.columns]), F.lit(salt))
    a_hot = a.join(hot, keys, "left_semi").withColumn("__salt", salt_col)
    b_hot = b.join(hot, keys, "left_semi").withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    hot_joined = a_hot.join(b_hot, [*keys, "__salt"]).drop("__salt")
    return cold.unionByName(hot_joined)
