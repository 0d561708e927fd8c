"""Session-owned confs: the cached-plan coalescing flag is a session
default (``get_spark`` and ``load_tables``), and operators scope any
other conf change through ``session.scoped_conf``."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from aroa_etl_spark.session import CACHED_PLAN_COALESCE_CONF, load_tables, scoped_conf

_WIDTH = "spark.sql.shuffle.partitions"


def test_get_spark_sets_cached_plan_flag(spark):
    assert spark.conf.get(CACHED_PLAN_COALESCE_CONF) == "true"


def test_load_tables_turns_cached_plan_flag_on(spark, sf_dir):
    plain = spark.newSession()
    plain.conf.set(CACHED_PLAN_COALESCE_CONF, "false")
    load_tables(plain, sf_dir, ("region",))
    assert plain.conf.get(CACHED_PLAN_COALESCE_CONF) == "true"


def test_barrier_fill_coalesces_on_plain_session(spark, sf_dir):
    """A plain session at Spark's default width: after load_tables, a
    barrier over a small groupBy fills its cache with AQE-coalesced
    partitions, not one per shuffle partition."""
    from aroa_etl_spark.operators.dedup import _barrier, release_caches

    plain = spark.newSession()
    plain.conf.set(_WIDTH, "200")
    plain.conf.set(CACHED_PLAN_COALESCE_CONF, "false")
    region = load_tables(plain, sf_dir, ("region",))["region"]
    persistent = plain.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    df = _barrier(region.groupBy("r_regionkey").count())
    try:
        assert df.count() == 5
        filled = [rdd.getNumPartitions() for k, rdd in persistent().items() if k not in before]
        assert filled and max(filled) < 200, filled
    finally:
        release_caches()


def test_scoped_conf_restores_set_and_unset_keys(spark):
    unset_key = "spark.aroa_etl.test_scoped_conf"
    width = spark.conf.get(_WIDTH)
    assert spark.conf.get(unset_key, None) is None

    with scoped_conf(spark, {_WIDTH: "3", unset_key: "x"}):
        assert (spark.conf.get(_WIDTH), spark.conf.get(unset_key)) == ("3", "x")
    assert (spark.conf.get(_WIDTH), spark.conf.get(unset_key, None)) == (width, None)

    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {_WIDTH: "5", unset_key: "y"}):
            raise RuntimeError("body fails")
    assert (spark.conf.get(_WIDTH), spark.conf.get(unset_key, None)) == (width, None)


def test_concurrent_pinned_components_and_barrier(spark):
    """Two threads pin different widths around connected_components on
    one session while a third persists through the barrier: every answer
    matches the single-thread one, and the confs end where they started."""
    from aroa_etl_spark.operators.clustering import connected_components
    from aroa_etl_spark.operators.dedup import _barrier, release_caches

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30) if i % 7 != 6], "src long, dst long"
    )

    def components(k=None):
        return sorted(connected_components(edges, num_partitions=k).collect())

    def grouped():
        return spark.range(60).groupBy((F.col("id") % 4).alias("k")).count()

    def barrier():
        return sorted(_barrier(grouped()).collect())

    want_cc, want_barrier = components(), sorted(grouped().collect())
    before = (spark.conf.get(_WIDTH), spark.conf.get(CACHED_PLAN_COALESCE_CONF))
    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(components, 3), pool.submit(components, 5),
                       pool.submit(barrier)]
            got = [f.result() for f in futures]
    finally:
        release_caches()
    assert got == [want_cc, want_cc, want_barrier]
    assert (spark.conf.get(_WIDTH), spark.conf.get(CACHED_PLAN_COALESCE_CONF)) == before
