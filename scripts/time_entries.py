"""Time individual catalog entries with the bench methodology (median
of N collect-reps in one warmed session) — the A/B loop for
optimization rounds.

Usage: python scripts/time_entries.py [sf_dir] name [name ...]
Env: REPS (default 4; rep 1 prints separately as the cold number).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aroa_etl_spark.plans import catalog  # noqa: E402
from aroa_etl_spark.session import get_spark  # noqa: E402

COLLECT_CAP = 100_000


def parse_args(args: list[str], known) -> tuple[str, list[str]]:
    """Split argv into (sf_dir, entry names); exit with a message naming
    a missing sf_dir or unknown entries before any session starts."""
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    if names and "/" in names[0]:
        sys.exit(f"time_entries: sf_dir {names[0]!r} is not a directory")
    if not names:
        sys.exit(__doc__)
    unknown = [n for n in names if n not in known]
    if unknown:
        sys.exit(f"time_entries: unknown catalog entries: {', '.join(unknown)}")
    return sf_dir, names


def main() -> None:
    qmap = catalog.queries()
    sf_dir, names = parse_args(sys.argv[1:], qmap)
    reps = int(os.environ.get("REPS", "4"))
    spark = get_spark(app_name="time_entries")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmups as bench.py: parquet reader + python workers
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1).count()
    n_cores = spark.sparkContext.defaultParallelism
    spark.range(0, n_cores, 1, n_cores).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    from aroa_etl_spark.operators.dedup import release_caches

    for name in names:
        runs = []
        spark.sparkContext.setJobDescription(f"time: {name}")
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qmap[name](spark, sf_dir)
            rows = df.limit(COLLECT_CAP + 1).collect()
            if len(rows) > COLLECT_CAP:
                df.count()
            runs.append(time.perf_counter() - t0)
            release_caches()
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(runs[1:]) if len(runs) > 1 else runs[0]
        print(
            f"{name:34s} cold {runs[0]:6.2f}s  warm-med {med:6.2f}s  "
            f"reps {[round(r, 2) for r in runs]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
