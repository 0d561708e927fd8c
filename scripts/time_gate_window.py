"""Time the driver's 50-slot gate window exactly as the driver runs it:
first 50 of queries() in order, strict comparator, plain session.

Usage: python scripts/time_gate_window.py [sf_dir]
Prints per-entry seconds for anything over the threshold and the window
total — run this after re-curating GATE_PRIORITY so no round ships a
window the gate can't afford (~10 s/entry budget).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from aroa_etl_spark.plans import catalog  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402

THRESHOLD_S = 8.0
# Total spark-side budget for the 50-entry window: earlier windows ran
# 40.6 s and then 58.6-62.2 s as heavy
# codec/streaming families rotated in — 120 s leaves ~2x headroom over
# the observed trend while still failing LOUDLY here, before a driver
# timeout finds it first.  Exceeding either budget exits nonzero.
TOTAL_BUDGET_S = 120.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    names = list(catalog.queries())[:50]
    t0 = time.time()
    slow = []
    spark_total = 0.0
    for n in names:
        spec = catalog.spec(n)
        # time the SPARK side alone (what the gate's budget bounds);
        # the oracle comparison runs after, untimed per entry
        t = time.time()
        df = spec.builder(spark, sf_dir)
        df.limit(100_001).collect()
        dt = time.time() - t
        spark_total += dt
        if dt > THRESHOLD_S:
            slow.append((n, round(dt, 1)))
        compare(df, sf_dir, spec.oracle, name=n)
        # free operator-internal caches at entry exit
        from aroa_etl_spark.operators.dedup import release_caches

        release_caches()
    print(
        f"spark-side total: {spark_total:.1f}s over {len(names)} entries "
        f"(wall incl. oracles: {time.time() - t0:.1f}s)"
    )
    print(f"entries over {THRESHOLD_S}s (spark side): {slow or 'none'}")
    # per-entry overruns are warnings (host-class sensitive); the TOTAL
    # is the hard, documented budget — exceeding it exits nonzero.
    if spark_total > TOTAL_BUDGET_S:
        print(
            f"OVER BUDGET: window total {spark_total:.1f}s exceeds "
            f"TOTAL_BUDGET_S={TOTAL_BUDGET_S:.0f}s — rebalance heavy "
            "entries across windows (first_seen mechanism) before the "
            "driver's own timeout finds this"
        )
        raise SystemExit(1)


if __name__ == "__main__":
    main()
