"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (`local[N]`) is a single JVM; the same configs (AQE,
shuffle-partition sizing, Arrow) are the ones that matter on a
1000-executor cluster — only `master` and memory change.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Off by default in Spark: a persisted plan then compiles without AQE's
# final-stage partition coalescing and fills its cache at the full
# shuffle width, however small the frame. The flag binds when persist()
# is called, so it must be on in the session before any operator
# persists a reuse barrier or a per-round frame.
CACHED_PLAN_COALESCE_CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

# Serializes every scoped_conf body in the process (see scoped_conf).
_CONF_LOCK = threading.RLock()


def get_spark(
    app_name: str = "aroa_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of shuffle partitions + skew-join
      splitting — the knobs that keep the same plan healthy from
      sf0.001 local up to 100 TB on a cluster.
    - Arrow on: every Pandas-UDF kernel (consensus, scoring) transfers
      columnar batches, not pickled rows.
    - UTC session timezone: deterministic timestamp semantics and
      DuckDB-oracle comparability.
    - ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``:
      persisted frames (the dedup/matching reuse barriers, the
      connected-components and BFS per-round frames) compile with AQE
      partition coalescing. Spark's default (false) fills each cache at
      the full ``spark.sql.shuffle.partitions`` width, i.e. mostly
      empty tasks for the few-MB frames these operators cache; with the
      flag on, AQE's 64 MB advisory sizes them, and large caches stay
      wide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(CACHED_PLAN_COALESCE_CONF, "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_utc_session_tz(spark: SparkSession) -> None:
    """Pin ``spark.sql.session.timeZone`` to UTC, warning ONCE per
    session when a non-UTC zone is being overridden.

    Timestamp semantics across the engine (LTZ<->NTZ casts, window
    grids, oracle comparisons) are defined against a UTC session; this
    is a DOCUMENTED session-level mutation, shared by ``load_tables``
    and the streaming window/session operators, not a hidden side
    effect. An unset conf resolves to the JVM default zone and is
    indistinguishable from an explicit equal set, so the policy is:
    any non-UTC zone earns one warning per session (marker conf), then
    silence — the explicit setter gets a diagnostic, nobody gets a
    warning per call."""
    import warnings

    current = spark.conf.get("spark.sql.session.timeZone")
    # conf.get returns the RESOLVED zone, so an unset conf is
    # indistinguishable from an explicit set equal to the JVM default.
    # Warn on ANY non-UTC zone — but only ONCE per session (marker conf):
    # the explicit setter gets their diagnostic, and a user on a non-UTC
    # machine who never touched the conf sees one line, not one per call.
    already = spark.conf.get("spark.aroa_etl.tz_pin_warned", "")
    if current not in ("UTC", "Etc/UTC", "GMT", "Z") and not already:
        spark.conf.set("spark.aroa_etl.tz_pin_warned", "1")
        warnings.warn(
            f"aroa_etl_spark pins spark.sql.session.timeZone=UTC for "
            f"timestamp determinism (was {current!r}); set it back after "
            f"engine calls if your own queries depend on it.",
            stacklevel=3,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the driver's parquet tables and register them as temp views.

    Returns {name: DataFrame}. Parquet scans get predicate pushdown and
    column pruning from Catalyst for free.

    Session-level side effects (documented API contract): sets the
    runtime confs ``spark.sql.legacy.parquet.nanosAsLong=true`` (events
    nanos), ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``
    (the cached-plan coalescing :func:`get_spark` also sets: without
    it every operator cache fills at the full shuffle width, 200
    near-empty tasks per fill on a plain session) and — only when
    events ships LTZ timestamps —
    ``spark.sql.session.timeZone=UTC`` via :func:`pin_utc_session_tz`,
    which warns once per session when a non-UTC zone is overridden.
    """
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    # The caller may hand us a session we did not build (e.g. the
    # correctness driver's plain SparkSession). events.ts is parquet
    # INT64 TIMESTAMP(NANOS), which the vectorized reader rejects unless
    # this runtime-settable conf is on — set it here, not only in
    # get_spark, so any session can read the tables. The cached-plan
    # flag rides along for the same reason: the operators downstream of
    # these tables persist frames on whatever session they are given.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(CACHED_PLAN_COALESCE_CONF, "true")

    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
                # nanosAsLong read: convert epoch-nanos to a real timestamp.
                # `div` truncates toward zero, matching DuckDB's ns->us cast
                # even for pre-1970 (negative) nanos; floor() would differ.
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif name == "events" and isinstance(df.schema["ts"].dataType, TimestampType):
                # The driver has regenerated testdata with a different ts
                # type each round (nanos, then micros/NTZ). If a future
                # round ships isAdjustedToUTC=true (reads as LTZ),
                # normalize to NTZ: DuckDB oracles see naive timestamps,
                # and the engine's ts arithmetic is defined tz-free. Pin
                # UTC so the cast maps instant -> identical wall clock on
                # any caller session.
                pin_utc_session_tz(spark)
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set the session confs ``confs`` for the body of a ``with`` block.

    On exit, normal or by an exception, each key gets back its previous
    value, and a key that was unset before is unset again. Every scope
    in the process holds one re-entrant lock for its whole body, so two
    scopes (on any session) never interleave their set/restore and a
    pinned body never runs under another scope's values; a scope nested
    in the same thread re-enters. The body must therefore not wait on
    another thread that opens a scope of its own."""
    with _CONF_LOCK:
        before = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in before.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
