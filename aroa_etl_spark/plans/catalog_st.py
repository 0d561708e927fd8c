"""Driver-checkable catalog entries for the streaming surface (§2.9).

Each entry runs a REAL Structured Streaming query — file source →
streaming transformation → memory sink, drained with an availableNow
trigger — and returns the sink table as a batch DataFrame. The
streaming semantics are chosen so the drained result is deterministic
and equals a batch-SQL aggregate, which makes the §2.9 pillars
oracle-checkable instead of pytest-only:

- complete-mode windowed aggregation == batch GROUP BY over the hour
  bucket (windows emit their final counts once the availableNow drain
  finishes);
- streaming dropDuplicates == DISTINCT on the dedup key (projecting
  only the key removes the which-row-arrived-first nondeterminism);
- the watermarked stream-stream LSH self-join with a constant event
  time == the batch MinHash-LSH candidate join (every pair falls inside
  the watermark interval, and at-least-once per-bucket emission is
  collapsed by DISTINCT).

Multi-micro-batch behavior, late-data drops, and stateful consensus are
covered by tests/test_streaming.py — those are genuinely
non-SQL-expressible and stay pytest-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aroa_etl_spark.plans.catalog import _NAMES13_SQL, query
from aroa_etl_spark.plans.catalog_tdp import (
    _MINHASH_SQL_BANDS,
    _MINHASH_SQL_SIG,
    _SHINGLE3,
    _TOK,
)
from aroa_etl_spark.session import load_tables, scoped_conf


def _stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one driver parquet table. Batch-load
    first: that sets the nanosAsLong conf any session needs for
    events.ts and pins the schema the streaming source must declare
    (streaming sources don't infer). FileStreamSource only accepts a
    DIRECTORY, and the driver tables are single files — stage a symlink
    directory under the repo-local scratch dir (testdata stays
    read-only)."""
    import os

    load_tables(spark, sf_dir, (name,))
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw = spark.read.parquet(path)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    stage = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch", "stream_src", sf_tag, name,
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{name}.parquet")
    if not os.path.lexists(link):
        os.symlink(path, link)
    # driver tables are single FILES at the test scales but Spark-written
    # DIRECTORIES of part files at the sf1 stress scale; FileStreamSource
    # lists only the top level, so a directory-shaped table must be
    # streamed AS the directory (via its symlink), not from the stage
    stream_path = link if os.path.isdir(path) else stage
    stream = spark.readStream.schema(raw.schema).parquet(stream_path)
    if name == "events":
        from pyspark.sql.types import LongType

        if isinstance(raw.schema["ts"].dataType, LongType):
            # nanosAsLong read (nanos-typed testdata): epoch-nanos -> LTZ.
            # NTZ-typed ts (micros testdata) needs no staging here —
            # windowed_event_counts handles the NTZ watermark cast itself.
            stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _drain(
    stream: DataFrame,
    sink: str,
    output_mode: str,
    partitions: int = 8,
    rocksdb: bool = False,
) -> None:
    """Drain availableNow into a memory sink. Stateful streaming ops
    create one state-store partition per shuffle partition at QUERY
    START — under the driver's plain session that default is 200, and
    the per-partition state-store setup (checkpoint dir + delta-file
    commits per micro-batch) dominates small-sf wall time (measured
    34 s → 7 s on the stream-stream join at 32; 8 cuts it further).
    The width is a per-query lifetime choice sized to STATE volume and
    KEY COUNT, not CPU count — gate-scale state is KBs, so 8 stores
    saturate, but a Python-kernel stateful op (applyInPandasWithState)
    is per-group CPU-bound, so callers with many groups must widen
    (the sf1 measurement: st_consensus 28.8 s at 8 partitions →
    8.5 s at 32 — see PLANS.md).  ``rocksdb=True`` pins the RocksDB
    state-store provider for this query (larger-than-memory state;
    measured neutral-to-slightly-better at sf1: 7.6 s vs 8.5 s at 32
    partitions, but SLOWER at narrow widths — 35.9 s at 8 — because
    per-partition instance setup dominates; default stays HDFS-backed).
    """
    from aroa_etl_spark.streaming.pipeline import run_to_memory

    confs = {"spark.sql.shuffle.partitions": str(partitions)}
    if rocksdb:
        confs["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    with scoped_conf(stream.sparkSession, confs):
        run_to_memory(stream, sink, output_mode=output_mode)


@query(
    "st_windowed_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def st_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 watermarked tumbling-window event counts, run AS A STREAM
    (readStream → withWatermark → window groupBy → memory sink,
    availableNow). Complete output mode: after the drain every window
    holds its final count, so the result equals the batch hour-bucket
    GROUP BY the oracle runs. Epoch-aligned 1-hour windows match
    DuckDB's date_trunc('hour')."""
    from aroa_etl_spark.streaming.pipeline import windowed_event_counts

    ev = _stream_table(spark, sf_dir, "events")
    win = windowed_event_counts(
        ev, ts_col="ts", key_col="event_type", window="1 hour", watermark="2 hours"
    )
    _drain(win, "st_windowed_counts_sink", "complete")
    return spark.table("st_windowed_counts_sink")


@query(
    "st_exact_dedup",
    oracle="SELECT DISTINCT md5(text) AS h FROM documents",
)
def st_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming exact dedup: md5-keyed dropDuplicates across
    micro-batches (state-store backed), drained availableNow. Which
    physical row survives per key is arrival-order-dependent, so the
    entry projects the KEY SET — deterministic and equal to batch
    DISTINCT md5(text)."""
    from aroa_etl_spark.streaming.pipeline import streaming_exact_dedup

    docs = _stream_table(spark, sf_dir, "documents")
    dd = streaming_exact_dedup(docs, text_col="text")
    _drain(dd.select(F.md5("text").alias("h")), "st_exact_dedup_sink", "append")
    return spark.table("st_exact_dedup_sink")


@query(
    "st_neardup_candidates",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    sh AS (SELECT doc_id, list_distinct({_SHINGLE3}) AS sh FROM toks),
    hh AS (SELECT doc_id, sh,
                  list_transform(sh, s -> ('0x'||substr(md5(s),1,8))::UBIGINT::BIGINT) AS hh
           FROM sh WHERE len(sh) > 0),
    sig AS (SELECT doc_id, sh, [{_MINHASH_SQL_SIG}] AS sig FROM hh),
    keys AS (SELECT doc_id, sh, unnest([{_MINHASH_SQL_BANDS}]) AS bucket FROM sig),
    pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sh AS sha, b.sh AS shb
              FROM keys a JOIN keys b USING (bucket)
              WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           CAST(len(list_intersect(sha, shb)) AS BIGINT) AS n_intersect,
           CAST(len(list_distinct(sha || shb)) AS BIGINT) AS n_union
    FROM pairs
    WHERE len(list_distinct(sha || shb)) > 0
      AND len(list_intersect(sha, shb))::DOUBLE / len(list_distinct(sha || shb)) >= 0.7
    """,
)
def st_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming near-dup detection: the watermarked STREAM-STREAM
    LSH self-join (streaming/pipeline.py:197) over documents given a
    constant event time — every pair lands inside the watermark
    interval, so the drained candidate set equals the batch MinHash-LSH
    banded join the oracle replays (same md5 universal-hash signatures,
    bit-identical buckets). DISTINCT collapses the at-least-once
    per-shared-bucket emission."""
    from aroa_etl_spark.streaming.pipeline import streaming_neardup_candidates

    docs = _stream_table(spark, sf_dir, "documents").withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    cand = streaming_neardup_candidates(
        docs, id_col="doc_id", text_col="text", ts_col="ts",
        watermark="1 hour", num_perm=8, bands=4, shingle_n=3, threshold=0.7,
    )
    _drain(cand, "st_neardup_sink", "append")
    return (
        spark.table("st_neardup_sink")
        .select(
            "id_a",
            "id_b",
            F.col("n_intersect").cast("bigint").alias("n_intersect"),
            F.col("n_union").cast("bigint").alias("n_union"),
        )
        .distinct()
    )


@query(
    "st_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT MAX(ts) FROM events)
    """,
)
def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STREAMING sessionization: session_window + 0-second
    watermark, append mode, availableNow drain. The trailing no-data
    micro-batch advances the watermark to max(event time), which
    finalizes exactly the sessions whose end (last event + gap) is
    at-or-before the corpus max timestamp — the HAVING clause mirrors
    that emission rule on top of the independent gaps-and-islands
    oracle. (The still-open tail sessions are precisely what a real
    stream must NOT emit yet; batch-complete sessionization is the
    w_sessionize_events entry.)"""
    from aroa_etl_spark.streaming.pipeline import sessionized_event_counts

    ev = _stream_table(spark, sf_dir, "events")
    sess = sessionized_event_counts(
        ev, ts_col="ts", key_col="user_id", gap="30 minutes", watermark="0 seconds"
    )
    _drain(sess, "st_sessionize_sink", "append")
    return spark.table("st_sessionize_sink")


@query(
    "st_stateful_counts",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value*100) AS BIGINT)) AS BIGINT) AS value_fp
    FROM events GROUP BY user_id
    """,
)
def st_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 ARBITRARY STATEFUL streaming, oracle-checked: the events
    table is staged as FOUR parquet files and streamed with
    maxFilesPerTrigger=1, so applyInPandasWithState genuinely
    accumulates per-user state ACROSS multiple micro-batches (not one
    trivial batch). Every batch emits the key's current totals; the
    event count strictly grows per emission (a key only emits on
    batches where it has rows), so the update row with the max count IS
    the final state — value_fp rides along via max_by with no
    assumption about value signs. The batch aggregate oracle must
    reproduce it exactly (fixed-point value sums — no float fold-order
    dependence)."""
    import os

    from aroa_etl_spark.streaming.pipeline import stateful_user_counters

    ev = load_tables(spark, sf_dir, ("events",))["events"].select("user_id", "value")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    stage = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch", "stream_src", sf_tag, "events_split4",
    )
    # ALWAYS rewrite: this stage is a COPY (unlike _stream_table's
    # symlinks, whose content follows the source), and the driver
    # regenerates /root/testdata between rounds — an exists-check would
    # silently stream last round's data against this round's oracle.
    ev.repartition(4).write.mode("overwrite").parquet(stage)
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    counters = stateful_user_counters(stream, key_col="user_id", value_col="value")
    _drain(counters, "st_stateful_counts_sink", "update")
    return (
        spark.table("st_stateful_counts_sink")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("value_fp", "n_events").alias("value_fp"),
        )
    )


@query(
    "st_cms_counts",
    oracle="""
    WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
                   WHERE user_id IS NOT NULL),
    rows_t AS (SELECT unnest(range(4)) AS row)
    SELECT row,
           ('0x'||substr(md5('cms'||CAST(row AS VARCHAR)||':'||k),1,15))::UBIGINT::BIGINT
             % 1024 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM keyed, rows_t GROUP BY 1, 2
    """,
)
def st_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + sketches composition: a count-min sketch maintained BY A
    STREAMING AGGREGATION (streaming/pipeline.py streaming_cms_counts)
    over events.user_id, drained availableNow in complete mode. The
    streaming state is bounded at depth*width counters no matter the
    stream volume — the reason sketch-based frequency monitoring works
    on unbounded streams — and the drained table equals the batch
    count-min sketch bit-exactly (integer counters, md5 addressing)."""
    from aroa_etl_spark.streaming.pipeline import streaming_cms_counts

    ev = _stream_table(spark, sf_dir, "events")
    cms = streaming_cms_counts(ev, "user_id", depth=4, width=1024)
    _drain(cms, "st_cms_counts_sink", "complete")
    return spark.table("st_cms_counts_sink")


@query(
    "st_funnel",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t2 FROM ev e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts_us >= s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t3 FROM ev e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts_us >= s2.t2 GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_click,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchase
    """,
)
def st_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stateful PATTERN DETECTION across micro-batches: the events
    table is staged as four ASCENDING TIME-RANGE slices (exact-
    percentile cuts; equal timestamps stay in one slice) streamed with
    maxFilesPerTrigger=1, so streaming_funnel's per-user step state
    genuinely carries funnel progress from batch to batch — a user can
    view in batch 1 and convert in batch 3. Reach times are set-once,
    so emissions are monotone and max() collapses the update stream;
    the result equals the batch min-CTE funnel the oracle runs."""
    import os

    from aroa_etl_spark.operators.temporal import epoch_us
    from aroa_etl_spark.streaming.pipeline import streaming_funnel

    ev = load_tables(spark, sf_dir, ("events",))["events"].select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("ts_us")
    )
    cuts = ev.selectExpr(
        "percentile(ts_us, array(0.25, 0.5, 0.75)) AS c"
    ).first()["c"]
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    stage = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch", "stream_src", sf_tag, "events_funnel_slices",
    )
    # sequential writes: one file per ascending time range, mtime order
    # == time order (FileStreamSource processes older files first).
    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    bounds = [None, *cuts, None]
    for i in range(4):
        lo, hi = bounds[i], bounds[i + 1]
        part = ev
        if lo is not None:
            part = part.filter(F.col("ts_us") >= float(lo))
        if hi is not None:
            part = part.filter(F.col("ts_us") < float(hi))
        part.coalesce(1).write.mode("append").parquet(stage)
    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts_us bigint")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stage)
    )
    fun = streaming_funnel(
        stream, user_col="user_id", type_col="event_type", ts_col="ts_us",
        steps=("view", "click", "purchase"),
    )
    _drain(fun, "st_funnel_sink", "update")
    final = (
        spark.table("st_funnel_sink")
        .groupBy("user_id")
        .agg(F.max("t_1").alias("t1"), F.max("t_2").alias("t2"), F.max("t_3").alias("t3"))
    )
    return final.agg(
        F.sum(F.when(F.col("t1") != -1, 1).otherwise(0)).cast("bigint").alias("n_view"),
        F.sum(F.when(F.col("t2") != -1, 1).otherwise(0)).cast("bigint").alias("n_click"),
        F.sum(F.when(F.col("t3") != -1, 1).otherwise(0)).cast("bigint").alias("n_purchase"),
    )


@query(
    "st_sliding_counts",
    oracle="""
    WITH ev AS (SELECT event_type, epoch_us(ts) AS t FROM events),
    starts AS (SELECT event_type,
                      unnest([(t // 1800000000) * 1800000000,
                              (t // 1800000000) * 1800000000 - 1800000000]) AS s_us
               FROM ev)
    SELECT TIMESTAMP '1970-01-01' + to_microseconds(s_us) AS window_start,
           TIMESTAMP '1970-01-01' + to_microseconds(s_us + 3600000000) AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM starts GROUP BY 1, 2, 3
    """,
)
def st_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 SLIDING windows (1 hour every 30 minutes) run as a real
    watermarked stream: every event lands in exactly two overlapping
    windows, state is bounded by the watermark, and the availableNow
    drain in complete mode equals the batch derivation the oracle runs
    (each event exploded to its two epoch-aligned window starts). The
    tumbling entry (st_windowed_counts) is the slide == window special
    case of the same operator."""
    from aroa_etl_spark.streaming.pipeline import windowed_event_counts

    ev = _stream_table(spark, sf_dir, "events")
    win = windowed_event_counts(
        ev, ts_col="ts", key_col="event_type",
        window="1 hour", slide="30 minutes", watermark="2 hours",
    )
    _drain(win, "st_sliding_counts_sink", "complete")
    return spark.table("st_sliding_counts_sink")


@query(
    "st_static_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def st_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-static enrichment: the orders STREAM joins the static
    customer dimension (broadcast hash join — the stream side never
    shuffles for the join) and aggregates revenue per segment in
    complete mode, drained availableNow. Stream-static joins are
    stateless (each micro-batch joins the current dim snapshot), which
    is why this is the standard shape for dimension enrichment at any
    scale (mirror-verified; window candidate); equality with the batch join+aggregate is exact (decimal
    sums, DOUBLE boundary)."""
    from pyspark.sql.functions import broadcast

    dim = load_tables(spark, sf_dir, ("customer",))["customer"].select(
        "c_custkey", "c_mktsegment"
    )
    orders = _stream_table(spark, sf_dir, "orders")
    joined = orders.join(
        broadcast(dim), orders["o_custkey"] == dim["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )
    _drain(agg, "st_static_join_sink", "complete")
    return spark.table("st_static_join_sink")


@query(
    "st_mv_refresh",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def st_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED-VIEW maintenance: orders staged as four
    parquet files stream one per trigger through a foreachBatch sink
    (streaming/pipeline.py stream_refresh_aggregate_to_parquet) that
    delta-merges each micro-batch into the aggregate table with
    refresh_aggregate. COUNT/SUM merges are associative+commutative, so
    the final table equals the batch aggregate over all facts no matter
    how rows were split into batches — which the oracle recomputes from
    scratch. Prices fixed-pointed to cents so the incremental sums are
    exact BIGINTs."""
    import os
    import shutil

    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.streaming.pipeline import stream_refresh_aggregate_to_parquet

    orders = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    root = _scratch_stage("mv_refresh", sf_dir)
    src = os.path.join(root, "facts")
    agg_path = os.path.join(root, "agg")
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(root, ignore_errors=True)
    orders.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("o_orderpriority string, price_cents bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_refresh_aggregate_to_parquet(
        stream, agg_path, "o_orderpriority",
        count_col="n", sum_cols=["price_cents"], checkpoint=ckpt,
    )
    return (
        spark.read.parquet(agg_path)
        .select(
            "o_orderpriority",
            "n",
            F.col("sum_price_cents").cast("bigint").alias("sum_price_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "st_upsert_table",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def st_upsert_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch keyed-upsert sink end to end: orders stream in
    four micro-batches into a SNAPSHOT-MANIFEST table via
    stream_upsert_to_parquet (on operators/table.py's commit log — one manifest
    version per batch, (run_id, batch_id) replay no-op, atomic-rename
    visibility); keys are unique, so the final snapshot holds exactly
    the input rows and its aggregate equals the batch oracle."""
    import os
    import shutil

    from aroa_etl_spark.operators.table import table_read, table_versions
    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.streaming.pipeline import stream_upsert_to_parquet

    orders = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderpriority"
    )
    root = _scratch_stage("upsert_table", sf_dir)
    src = os.path.join(root, "facts")
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(root, ignore_errors=True)
    orders.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("o_orderkey bigint, o_orderpriority string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_upsert_to_parquet(stream, table, "o_orderkey", checkpoint=ckpt)
    # one committed manifest version per drained micro-batch
    if len(table_versions(table)) < 1:
        raise AssertionError("upsert sink committed no manifest versions")
    return (
        table_read(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "st_consensus",
    oracle=f"""
    SELECT doc_id::VARCHAR AS group_id,
           CASE WHEN doc_id % 5 = 0 THEN '?'
                ELSE {_NAMES13_SQL}[(doc_id % 13) + 1] END AS val,
           (doc_id % 5 = 0) AS is_ambiguous
    FROM documents
    """,
)
def st_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming consensus UNDER LATE DATA:
    the planted 3-vote transcription groups stream in two micro-batches
    — copies 1-2 first, copy 3 arrives LATE in a second file
    (maxFilesPerTrigger=1) — through streaming_consensus
    (applyInPandasWithState).  Each batch re-votes the groups it
    touches, so the update-mode sink holds an interim 2-vote row AND
    the final 3-vote row per group; filtering to n_transcriptions = 3
    selects the post-late-data state, which must equal the BATCH
    consensus over all three votes — the enc_consensus_dedup oracle
    verbatim.  Proves the stateful kernel's accumulated state converges
    to batch semantics regardless of how votes split across batches."""
    import os
    import shutil

    from aroa_etl_spark.operators.consensus import default_col_matcher
    from aroa_etl_spark.plans.catalog import planted_transcriptions
    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.streaming.pipeline import streaming_consensus

    copies = planted_transcriptions(spark, sf_dir)
    root = _scratch_stage("st_consensus", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "votes")
    # two files, written in arrival order: early votes, then the late one
    copies.filter(F.col("copy") <= 2).select("group_id", "val").coalesce(
        1
    ).write.parquet(src)
    copies.filter(F.col("copy") == 3).select("group_id", "val").coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("group_id string, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_consensus(stream, "group_id", {"val": default_col_matcher()})
    # The consensus kernel runs once per GROUP per batch in Python, so
    # wall time is group-count-bound, not state-size-bound: size the
    # state-partition width to the key count (1-row count probe; 3
    # votes/group).  Gate scale (≤6k groups) stays at the 8-store
    # floor; sf1's 50k groups get 32-way kernel parallelism — measured
    # 28.8 s → 8.5 s, turning a 3.6x sf ratio into ~1.2x
    # (PLANS.md sf1 table).
    width = min(32, max(8, int(copies.count()) // 3 // 1500))
    _drain(out, "st_consensus_sink", "update", partitions=width)
    return spark.sql(
        "SELECT group_id, val, is_ambiguous FROM st_consensus_sink "
        "WHERE n_transcriptions = 3"
    )


@query(
    "st_warc_source",
    oracle="""
    WITH recs AS (
      SELECT k, i,
             CASE WHEN i % 2 = 0 THEN 'response' ELSE 'metadata' END AS warc_type,
             len('stream-' || CAST(k AS VARCHAR) || '-' || CAST(i AS VARCHAR))
               AS clen
      FROM (SELECT unnest(range(0, 10)) AS k), (SELECT unnest(range(0, 6)) AS i))
    SELECT warc_type,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_files,
           CAST(SUM(clen) AS BIGINT) AS total_payload_bytes
    FROM recs GROUP BY warc_type ORDER BY warc_type
    """,
)
def st_warc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + Python DataSource: STREAMING WARC ingestion
    (`spark.readStream.format("warc")`, sources/warc_datasource.py
    WarcStreamReader) — each micro-batch picks up segment files that
    appeared since the last offset, one executor-side InputPartition
    per new file, the crawl-tailing shape.  The entry stages 10
    deterministic files (half ``.warc.gz`` per-record gzip members),
    drains the stream (availableNow falls back to the documented
    single-batch execution for Python stream sources), and aggregates
    the landed records; the oracle replays the construction
    arithmetic.  Incremental multi-batch pickup is pytest-pinned
    (test_io.py) — the drained catalog check attests offset planning,
    executor reads, and schema through the driver gate."""
    import gzip
    import os
    import shutil

    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.sources.warc_datasource import register_warc_source

    stage = _scratch_stage("warc_st_src", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for k in range(10):
        records = bytearray()
        for i in range(6):
            payload = f"stream-{k}-{i}".encode()
            wtype = "response" if i % 2 == 0 else "metadata"
            rec = (
                f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload + b"\r\n\r\n"
            records += gzip.compress(rec, 5) if k % 2 else rec
        name = f"seg{k}.warc.gz" if k % 2 else f"seg{k}.warc"
        with open(os.path.join(stage, name), "wb") as fh:
            fh.write(bytes(records))
    register_warc_source(spark)
    stream = spark.readStream.format("warc").load(stage).select(
        "path", "warc_type", "content_length"
    )
    _drain(stream, "st_warc_source_sink", "append")
    return (
        spark.table("st_warc_source_sink")
        .groupBy("warc_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_records"),
            F.count_distinct("path").cast("bigint").alias("n_files"),
            F.sum("content_length").cast("bigint").alias("total_payload_bytes"),
        )
        .orderBy("warc_type")
    )


@query(
    "st_mbox_source",
    oracle="""
    WITH msgs AS (
      SELECT k, i,
             'user' || CAST((k + i) % 5 AS VARCHAR) || '@example.com'
               AS from_addr,
             10 * (1 + i % 3) AS body_bytes
      FROM (SELECT unnest(range(0, 8)) AS k),
           (SELECT unnest(range(0, 4)) AS i)
      WHERE i < 2 + k % 3)
    SELECT from_addr,
           CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_files,
           CAST(SUM(body_bytes) AS BIGINT) AS total_body_bytes
    FROM msgs GROUP BY from_addr ORDER BY from_addr
    """,
)
def st_mbox_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mbox ingestion (`spark.readStream.format("mbox")`,
    sources/mbox.py MboxDataSource via the shared container-DataSource
    model) — the archive-tailing shape: a list server drops finished
    ``.mbox`` files, each micro-batch ingests the newly appeared ones,
    one executor-side InputPartition per archive.  The entry stages 8
    deterministic archives (message counts, senders, and body sizes
    all (k, i)-arithmetic), drains the stream, and rolls up per-sender
    message/file/byte counts; the oracle replays the construction.
    The container model's monotonic offsets + atomic-placement growth
    guard are pytest-pinned on the WARC instantiation — one
    implementation, both formats."""
    import os
    import shutil

    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.sources.mbox import build_mbox, register_mbox_source

    stage = _scratch_stage("mbox_st_src", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for k in range(8):
        msgs = []
        for i in range(2 + k % 3):
            msgs.append(
                {
                    "from_": f"user{(k + i) % 5}@example.com",
                    "headers": [
                        ("Message-ID", f"<st-{k}-{i}@example.com>"),
                        ("From", f"user{(k + i) % 5}@example.com"),
                        ("Subject", f"batch {k} msg {i}"),
                    ],
                    "body": "data line\n" * (1 + i % 3),
                }
            )
        with open(os.path.join(stage, f"arch{k}.mbox"), "wb") as fh:
            fh.write(build_mbox(msgs))
    register_mbox_source(spark)
    stream = spark.readStream.format("mbox").load(stage).select(
        "path", "from_addr", "body_bytes"
    )
    _drain(stream, "st_mbox_source_sink", "append")
    return (
        spark.table("st_mbox_source_sink")
        .groupBy("from_addr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_messages"),
            F.count_distinct("path").cast("bigint").alias("n_files"),
            F.sum("body_bytes").cast("bigint").alias("total_body_bytes"),
        )
        .orderBy("from_addr")
    )


@query(
    "st_tar_samples",
    oracle="""
    WITH g AS (SELECT k, s
               FROM (SELECT unnest(range(0, 8)) AS k),
                    (SELECT unnest(range(0, 5)) AS s))
    SELECT 'shard' || CAST(k AS VARCHAR) || '/s' || CAST(s AS VARCHAR)
             AS sample_key,
           CAST(CASE s WHEN 0 THEN 0 WHEN 1 THEN 3 WHEN 2 THEN 5
                       WHEN 3 THEN 7 ELSE 10 END AS INT) AS sample_idx,
           CAST(2 + CASE WHEN s % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_members,
           md5('body-' || CAST(k AS VARCHAR) || '-' || CAST(s AS VARCHAR))
             AS txt,
           md5(CAST((k * 2 + s) % 6 AS VARCHAR)) AS cls
    FROM g ORDER BY sample_key
    """,
)
def st_tar_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 sample assembly: the STREAMING WebDataset
    consumption loop — ``spark.readStream.format("tar")`` tails the
    shard directory (one executor-side partition per new shard) and
    the drained member rows regroup into one row per training sample
    via assemble_webdataset_samples, exactly what a continuous
    training-data loader runs in foreachBatch as packing jobs drop
    finished shards.  The entry stages 8 genuine stdlib-tarfile shards
    of 5 samples (txt + cls always, a json sidecar every third
    sample), drains, assembles, and the oracle replays the grouping:
    key construction, cumulative member-index sample order, member
    counts, and every payload md5.  Assembly after the drain uses the
    same batch operator a foreachBatch consumer would call — per-batch
    semantics are pytest-pinned on the batch twin (s_tar_samples).
    Scale: shard pickup is incremental (offsets = ingested shard
    list); assembly is one (shard, sample_key) shuffle per batch."""
    import io
    import os
    import shutil
    import tarfile

    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.sources.tar_datasource import register_tar_source
    from aroa_etl_spark.sources.tarfmt import assemble_webdataset_samples

    stage = _scratch_stage("tar_st_samples", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for k in range(8):
        with tarfile.open(
            os.path.join(stage, f"w{k}.tar"), "w",
            format=tarfile.USTAR_FORMAT,
        ) as tf:
            def add(name: str, payload: bytes) -> None:
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(payload))

            for s in range(5):
                key = f"shard{k}/s{s}"
                add(f"{key}.txt", f"body-{k}-{s}".encode())
                add(f"{key}.cls", str((k * 2 + s) % 6).encode())
                if s % 3 == 0:
                    add(f"{key}.json", b"{}")
    register_tar_source(spark)
    stream = spark.readStream.format("tar").load(stage).select(
        "path", "member_idx", "name", "payload_md5"
    )
    _drain(stream, "st_tar_samples_sink", "append")
    members = spark.table("st_tar_samples_sink")
    return (
        assemble_webdataset_samples(members, ["txt", "cls"])
        .select("sample_key", "sample_idx", "n_members", "txt", "cls")
        .orderBy("sample_key")
    )


@query(
    "st_video_frames",
    oracle="""
    WITH ks AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS k),
    fr AS (SELECT k, CAST(unnest(range(0, 1 + k % 3)) AS INT) AS frame_index
           FROM ks)
    SELECT k AS media_id, frame_index,
           CAST(128 + 5 * (((k + 7 * frame_index) % 40) - 20) AS DOUBLE)
             AS mean_intensity
    FROM fr ORDER BY media_id, frame_index
    """,
)
def st_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 video: the STREAMING video-ingestion loop — a
    binaryFile stream tails the clip drop directory (the shape a
    continuous multimodal loader runs as capture jobs land AVI files),
    and each drained blob explodes into real decoded frames via the
    same video_frame_features kernel the batch entry attests (AVI movi
    demux + vendored JPEG codec, strict=True).  Stages 8 MJPEG AVIs of
    1-3 flat frames whose DC-exact values the oracle replays per
    (file, frame).  Scale: file pickup is incremental (source offsets
    = ingested file list); the decode explosion is per-batch map-only
    work — no streaming state at all, which is exactly the point: the
    expensive part rides the batch kernel unchanged."""
    import os
    import shutil

    from aroa_etl_spark.operators.jpegcodec import encode_baseline_jpeg
    from aroa_etl_spark.operators.multimodal import (
        encode_avi_mjpeg, video_frame_features,
    )
    from aroa_etl_spark.plans.catalog_ext import _scratch_stage

    import numpy as np

    stage = _scratch_stage("st_video", sf_dir)
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for k in range(8):
        frames = [
            encode_baseline_jpeg(
                np.full((8, 16), 128 + 5 * (((k + 7 * j) % 40) - 20),
                        dtype=np.uint8),
                quality=85,
            )
            for j in range(1 + k % 3)
        ]
        with open(os.path.join(stage, f"clip{k}.avi"), "wb") as fh:
            fh.write(encode_avi_mjpeg(frames, width=16, height=8))
    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .load(stage)
        .select(
            F.regexp_extract("path", r"clip(\d+)\.avi", 1)
            .cast("long").alias("media_id"),
            "content",
        )
    )
    _drain(stream, "st_video_frames_sink", "append")
    blobs = spark.table("st_video_frames_sink")
    return (
        video_frame_features(blobs, every_n=1, strict=True)
        .select("media_id", "frame_index", "mean_intensity")
        .orderBy("media_id", "frame_index")
    )


@query(
    "st_table_stream_source",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def st_table_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-manifest table consumed as a STREAM
    (sources/table_datasource.py): offsets are manifest
    VERSIONS (monotone integers, no file-listing races), each
    micro-batch reads exactly the data directories the append commits
    in (start, end] added, and rows arrive as Arrow record batches
    straight from pyarrow.  The entry append-commits orders in four
    slices, drains `readStream.format("snapshot_table")`
    (availableNow falls back to the documented single-batch execution
    for Python stream sources), and the landed aggregate must equal
    the batch oracle over ALL orders — exact change-data capture for
    an append-only table.  The batch read path is guarded in-entry
    against the native parquet count.  Scale: planning is driver-side
    manifest JSON; executors read only added directories."""
    import os
    import shutil

    from aroa_etl_spark.operators.table import table_commit
    from aroa_etl_spark.plans.catalog_ext import _scratch_stage
    from aroa_etl_spark.sources.table_datasource import register_table_source

    orders = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_orderpriority"
    )
    root = _scratch_stage("table_stream_src", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    t = os.path.join(root, "t")
    for i in range(4):
        table_commit(
            orders.filter(F.col("o_orderkey") % 4 == i), t, mode="append"
        )
    register_table_source(spark)
    n_batch = spark.read.format("snapshot_table").load(t).count()
    n_want = orders.count()
    if n_batch != n_want:
        raise AssertionError(
            f"batch snapshot_table read saw {n_batch} rows, want {n_want}"
        )
    agg = (
        spark.readStream.format("snapshot_table").load(t)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
    )
    _drain(agg, "tbl_stream_agg", "complete")
    return spark.table("tbl_stream_agg").orderBy("o_orderpriority")
