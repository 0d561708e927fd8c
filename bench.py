"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query wall times.

Protocol: each query is timed REPS (=3) times within the shared
session and the reported number is the MEDIAN — single-run
variance (one w2_topk run read 4.88 s vs a same-host rerun's 2.71 s
on unchanged code) otherwise masquerades as regression.  Min/max per
query ship in a "variance" tail so spread stays visible.  The timed
action is a full materialization (collect of the aggregate result or
count for large outputs) so the whole plan —
scan, shuffle, agg — is paid.  BENCH_r01..r07 timed each query once;
comparison vs those files should expect the median to sit at or below
the old single-shot numbers (first-run cache warmup moves to run 1 of
3).

The bench carries its own yardstick, because recorded benches have
absorbed ~1.65x uniform host-throughput shifts: a FIXED
pure-CPU calibration workload (xxhash64 fold over spark.range, no
input data, no Python) is timed at bench start and end and shipped in
the final line ("calibration", median seconds).  Normalized medians
(query_sec / calibration_sec) ride the detail line; host shift moves
raw and calibration together and cancels in the ratio, so a real
regression is visible arithmetically whatever the host is doing.
Entries whose 3-rep spread exceeds 2x earn up to 2 extra reps
(adaptive, per-entry) so a single contention spike cannot own a
median.  Raw seconds keep the exact old methodology and stay
comparable with BENCH_r01..r12.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aroa_etl_spark.plans import catalog  # noqa: E402
from aroa_etl_spark.session import get_spark  # noqa: E402

# Headline set: the queries that exercise the heavy paths (big scans,
# shuffles, multiway joins, windows, text/dedup kernels when present).
HEADLINE = [
    "q1_pricing_summary",
    "j5_multiway_revenue_by_nation",
    "j2_left_join_counts",
    "j4_top1_per_target_window",
    "w2_topk_per_group",
    "a8_multi_metric_stats",
    "o1_intracell_numeric_sort",
    "js_json_extract",
]
# Results with more rows than this are counted, not collected.
COLLECT_CAP = 100_000
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="aroa_etl_spark_bench")
    # The bounded-dim offset windows (≤64-row band/shard dims) are
    # plan-audited and pinned by tests/test_plan_invariants.py; their
    # `WindowExec: No Partition Defined` warnings would flood the bench
    # tail and let a REAL data-sized unpartitioned window hide in the
    # noise — scope the logger down for the bench
    # only; the plan-invariant tests, not the log, are the guard.
    jvm_log = spark._jvm.org.apache.log4j  # noqa: SLF001
    jvm_log.Logger.getLogger(
        "org.apache.spark.sql.execution.window.WindowExec"
    ).setLevel(jvm_log.Level.ERROR)
    jvm_log.Logger.getLogger(
        "org.apache.spark.sql.catalyst.expressions"
    ).setLevel(jvm_log.Level.ERROR)
    qmap = catalog.queries()
    names = [n for n in HEADLINE if n in qmap]
    # extra registered headline benchmarks (e.g. dedup/text ops) opt in
    names += [n for n in getattr(catalog, "BENCH_EXTRA", []) if n in qmap and n not in names]

    # Neutral warmup: JIT/codegen + parquet reader init on a 1-row scan,
    # so the first timed query doesn't absorb one-time JVM startup cost.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1).count()

    # Python-worker warmup, same principle: the first
    # mapInPandas/Arrow entry otherwise absorbs the one-time daemon +
    # per-core worker spawn and Arrow serializer init (measured ~9 s
    # extra on mm_jpeg_dims_scan's first rep at local[32]) — spawn one
    # worker per core on a core-count range so that cost lands here,
    # outside every timed region.
    def _noop_kernel(batches):
        yield from batches

    n_cores = spark.sparkContext.defaultParallelism
    (
        spark.range(0, n_cores, 1, n_cores)
        .mapInPandas(_noop_kernel, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    # Streaming warmup, same principle: the first streaming query
    # otherwise absorbs the one-time MicroBatchExecution / state-store /
    # sink JIT (~3.5 s measured on a fresh session) — a
    # st_windowed_counts median once read 1.39 s vs a steady state of ~1.0 s
    # purely because rep 1 carried that cold cost into a 3-rep median.
    import tempfile

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as td:
        spark.range(1).select(
            F.col("id"), F.current_timestamp().alias("ts")
        ).write.parquet(os.path.join(td, "in"))
        (
            spark.readStream.schema("id long, ts timestamp")
            .parquet(os.path.join(td, "in"))
            .groupBy(F.window("ts", "1 minute"))
            .count()
            .writeStream.format("noop")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    from aroa_etl_spark.operators.dedup import release_caches

    def calibration_secs() -> float:
        """Fixed pure-CPU reference workload (the bench carries its own
        yardstick).  A deterministic xxhash64 fold
        over spark.range touches no input data and no Python workers,
        so its wall time tracks HOST THROUGHPUT (cpu contention,
        frequency scaling) and nothing in this repo.  Median of 3.
        Normalizing a query median by this constant separates host
        shift (both move together) from a real regression (only the
        query moves) arithmetically."""
        runs = []
        spark.sparkContext.setJobDescription("bench: calibration workload")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "bit_xor(xxhash64(id)) as h"  # xor: no ANSI overflow
            ).collect()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        return round(statistics.median(runs), 3)

    cal_start = calibration_secs()

    timings: dict[str, float] = {}
    reps_detail: dict[str, list[float]] = {}
    for name in names:
        runs: list[float] = []
        spark.sparkContext.setJobDescription(f"bench: {name}")
        while len(runs) < REPS or (
            # adaptive reps: when the 3-rep spread
            # exceeds 2x the median is contention noise, not signal —
            # buy 2 more samples for that entry only
            len(runs) < REPS + 2 and max(runs) > 2 * min(runs)
        ):
            start = time.perf_counter()
            df = qmap[name](spark, sf_dir)
            rows = df.limit(COLLECT_CAP + 1).collect()
            if len(rows) > COLLECT_CAP:
                df.count()
            runs.append(time.perf_counter() - start)
            # untimed: free operator-internal reuse caches between runs
            # (dedup barriers + the stats/evaluation persist=True rank
            # caches — without the latter, reps 2..N of
            # eval_classifier_auc reused rep 1's cached scoring
            # projection via CacheManager plan-matching)
            release_caches()
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(statistics.median(runs), 3)
        reps_detail[name] = [round(r, 3) for r in runs]

    cal_end = calibration_secs()
    cal = round(statistics.median([cal_start, cal_end]), 3) or 1.0

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    # Protocol: the consumer of this output keeps only a
    # 2000-char TAIL of stdout, so EVERYTHING that must survive —
    # every median AND every per-rep timing — lives in ONE compact
    # final line.  "rep_secs" is aligned with "queries" insertion
    # order (rep_secs[i] = the REPS wall times of the i-th query), the
    # only encoding that fits 30+ headliners in the tail budget.  A
    # human-friendly named detail line prints FIRST (it may truncate
    # in the driver artifact; the final line never does).
    print(
        json.dumps(
            {
                "metric": "headline_queries_reps_detail",
                "unit": "sec",
                "sf": sf_val,
                "reps": REPS,
                "reps_detail": reps_detail,
                # host-shift-immune view: median / calibration median
                # (dimensionless; compare THESE across rounds when raw
                # seconds move uniformly)
                "calibration_sec": {"start": cal_start, "end": cal_end},
                "normalized": {
                    n: round(t / cal, 3) for n, t in timings.items()
                },
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()
    final = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "reps": REPS,
        "aggregation": "median",
        # fixed reference workload wall time (median of 3 at bench
        # start and 3 at end — per-rep detail on the first output
        # line): normalized medians = queries[n] / calibration
        "calibration": cal,
        "rep_secs": [reps_detail[n] for n in timings],
    }
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1950:  # keep the medians inside the tail, whatever
        final.pop("rep_secs")  # the headliner count grows to
        line = json.dumps(final, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
