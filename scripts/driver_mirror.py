"""Faithful local mirror of the correctness driver.

Builds a PLAIN SparkSession (no get_spark — the driver does not use our
session factory, so any conf we only set in get_spark is invisible to
the gate) and runs every catalog query at sf0.01
against its DuckDB oracle with the strict repr-level comparator.
Every catalog builder reads its inputs through ``session.load_tables``,
which sets the runtime confs the operators rely on on whatever session
it is handed — ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
among them, so operator caches fill AQE-coalesced here too, not at the
plain session's 200-partition default.

Usage: python scripts/driver_mirror.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from aroa_etl_spark.plans import catalog  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    spark = (
        SparkSession.builder.appName("driver_mirror")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    todo = sorted(catalog.queries().keys())
    if names:
        todo = [n for n in todo if any(f in n for f in names)]
    for name in todo:
        spec = catalog.spec(name)
        t0 = time.time()
        try:
            df = spec.builder(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                results[name] = {"status": "rows_only", "rows": n}
            else:
                compare(df, sf_dir, spec.oracle, name=name)
                results[name] = {"status": "ok"}
        except AssertionError as e:
            results[name] = {"status": "MISMATCH", "detail": str(e)[:500]}
        except Exception:
            results[name] = {"status": "ERROR", "detail": traceback.format_exc()[-500:]}
        results[name]["sec"] = round(time.time() - t0, 2)
        # free operator-internal reuse caches at entry exit so storage
        # does not accumulate across the sweep
        from aroa_etl_spark.operators.dedup import release_caches

        release_caches()
        print(f"{name:40s} {results[name]['status']:10s} {results[name]['sec']}s", flush=True)

    bad = {k: v for k, v in results.items() if v["status"] not in ("ok", "rows_only")}
    print(json.dumps({"total": len(results), "bad": len(bad)}))
    if bad:
        print(json.dumps(bad, indent=2)[:4000])
    _write_receipt(results, sf_dir)
    spark.stop()
    return 1 if bad else 0


def _write_receipt(results: dict[str, dict], sf_dir: str) -> None:
    """Persist the mirror outcome as RECEIPTS/r{N}_mirror.json
    (attestation receipts must be machine-checkable, not git
    archaeology).  N = the upcoming round (max CORRECTNESS round +
    1).  A full run rewrites the round's receipt; a filtered run MERGES
    its entries into it, so targeted re-attestations after a code change
    keep the receipt fresh without a 30-minute full sweep.  Each entry
    records status, wall seconds, and the commit it ran against."""
    import glob
    import re
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [
        int(re.search(r"_r(\d+)", os.path.basename(f)).group(1))
        for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    ]
    n = (max(rounds) + 1) if rounds else 1
    path = os.path.join(root, "RECEIPTS", f"r{n:02d}_mirror.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=root,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = bool(subprocess.run(
            ["git", "status", "--porcelain"], cwd=root,
            capture_output=True, text=True, check=True,
        ).stdout.strip())
    except Exception:
        commit, dirty = "unknown", True
    entries: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as fh:
            entries = json.load(fh).get("entries", {})
    for name, rec in results.items():
        entries[name] = {**rec, "commit": commit, "dirty": dirty, "round": n}
    # freshness is machine-checked, not just recorded: a
    # filtered run merges into prior entries attested against an older
    # commit — surface that drift in the header so test_receipts and
    # readers see it without per-entry archaeology
    stale = sorted(
        k for k, v in entries.items() if v.get("commit") != commit
    )
    with open(path, "w") as fh:
        json.dump(
            {"sf_dir": sf_dir, "round": n, "head_commit": commit,
             "stale_commit_count": len(stale),
             "stale_commit_entries": stale[:50],
             "entries": dict(sorted(entries.items()))},
            fh, indent=1,
        )
    print(f"receipt: {path} ({len(entries)} entries, "
          f"{len(stale)} attested at an older commit)")


if __name__ == "__main__":
    raise SystemExit(main())
