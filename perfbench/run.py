"""Paper-pipeline benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload enc_consensus --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` once and runs the pipeline
``WARMUP_RUNS`` times (set-up), then runs it back to back for
``--seconds`` (``MIN_RUNS`` runs at least) and checks every run's
outputs.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``attempted`` and
``failed`` count stage executions.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced runs (at least one of each) and reports the
per-layer metrics (medians over the traced runs) plus the tracing
overhead; the spans go to ``.bench_work/traces/``.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# inputs per workload: documents, scans
SIZES = {"enc_consensus": 400, "scan_index": 450}
WARMUP_RUNS = 1         # JIT, codegen cache and Python workers
# measured runs at least: one run is exposed to every transient stall of
# a shared host; run_s is their median
MIN_RUNS = 2
STAGE_TIMEOUT_S = 90.0  # a stage running longer is cancelled and counts as failed

E2E_UNITS = {
    "run_s": "s", "records_per_s": "1/s", "setup_s": "s",
    "result_quality": "score", "success_frac": "ratio",
}
SPANS = ("unpacking", "attributes", "consensus", "matching", "clustering",
         "decode", "neardup")
SPAN_METRICS = {"s": "s", "self_s": "s", "eager_jobs": "count", "tasks": "count",
                "cpu_ms": "ms", "shuffle_bytes": "bytes", "python_ms": "ms",
                "catalyst_ms": "ms"}
COUNTERS = {
    "consensus.ambiguous_frac": "ratio", "matching.candidate_pairs": "count",
    "matching.kept_frac": "ratio", "clustering.edges": "count",
    "clustering.entities": "count", "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "ratio",
}


def _engine_units() -> dict[str, str]:
    from perfbench.trace import ENGINE_METRICS

    def unit(name: str) -> str:
        if name.endswith("_ms"):
            return "ms"
        return "bytes" if "bytes" in name else "count"

    return {m: unit(m) for m in ENGINE_METRICS}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = _engine_units()
    units.update({"driver.build_s": "s", "driver.action_s": "s",
                  "session.cached_rdds_after_run": "count", "peak_rss_mb": "MB"})
    for span in SPANS:
        units.update({f"{span}.{k}": u for k, u in SPAN_METRICS.items()})
    units.update(COUNTERS)
    units.update({"run.self_s": "s", "trace.overhead_s": "s",
                  "trace.unaccounted_s": "s", "trace.run_s": "s"})
    return units


def _set_env(work: Path) -> None:
    """Workers import the package from the checkout; every temporary file of
    the JVM, Spark and Python stays under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # read by session.py at import
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")  # inputs are small; peak RSS ~1.5 GB
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _release_caches() -> None:
    from aroa_etl_spark.operators import dedup, stats

    dedup.release_caches()
    stats.release_caches()


def _one_run(spark, wl, work: Path, tracer) -> dict:
    """One pipeline run; returns its wall time, the stages attempted and
    failed, and the persisted-RDD count before the caches are released."""
    sc = spark.sparkContext
    failed: list[str] = []
    attempted = 0
    run_idx = len(tracer.spans)  # the index the run span gets
    with tracer.listening(), tracer.span("run") as run_span:
        for stage, build, out in wl.stages:
            attempted += 1
            timer = threading.Timer(STAGE_TIMEOUT_S, sc.cancelAllJobs)
            timer.start()
            try:
                with tracer.span(stage) as st:
                    with tracer.span(f"{stage}.build"):
                        g_build = tracer.job_group(st)
                        df = build(spark, str(work))
                    with tracer.span(f"{stage}.write"):
                        g_write = tracer.job_group(st)
                        df.write.mode("overwrite").parquet(str(work / "out" / out))
                tracer.collect(st, g_build, g_write)
            except Exception as e:  # the benchmark counts the failure and goes on
                print(f"[perfbench] stage {stage} failed: {e!r}"[:2000], file=sys.stderr)
                failed.append(stage)
                break
            finally:
                timer.cancel()
    cached = len(sc._jsc.getPersistentRDDs())
    _release_caches()
    # start every run from a collected heap, so one run's garbage does not
    # land as GC time in the next
    sc._jvm.System.gc()
    return {"wall": run_span.seconds, "self": tracer.self_seconds(run_idx),
            "attempted": attempted, "failed": failed, "cached": cached}


def _layer_row(tracer, run_idx: int, cached: int) -> dict[str, float]:
    """Per-layer metrics of one traced run, from its spans."""
    from perfbench.trace import ENGINE_METRICS

    row = {m: 0.0 for m in ENGINE_METRICS}
    row.update({"driver.build_s": 0.0, "driver.action_s": 0.0,
                "session.cached_rdds_after_run": cached})
    for i, s in enumerate(tracer.spans):
        if s.run != run_idx:
            continue
        if s.name == "run":
            row["run.self_s"] = tracer.self_seconds(i)
            row["trace.run_s"] = s.seconds
        elif s.name.endswith(".build"):
            row["driver.build_s"] += s.seconds
        elif s.name.endswith(".write"):
            row["driver.action_s"] += s.seconds
        elif s.name in SPANS:
            c = s.counters
            for m in ENGINE_METRICS:
                row[m] += c.get(m, 0)
            row.update({
                f"{s.name}.s": s.seconds,
                f"{s.name}.self_s": tracer.self_seconds(i),
                f"{s.name}.eager_jobs": c.get("eager_jobs", 0),
                f"{s.name}.tasks": c.get("scheduler.tasks", 0),
                f"{s.name}.cpu_ms": c.get("executor.cpu_ms", 0),
                f"{s.name}.shuffle_bytes": c.get("shuffle.write_bytes", 0),
                f"{s.name}.python_ms": c.get("python.total_ms", 0),
                f"{s.name}.catalyst_ms": sum(
                    c.get(f"catalyst.{p}_ms", 0)
                    for p in ("analysis", "optimization", "planning")),
            })
    return row


def _median_rows(rows: list[dict]) -> dict[str, float]:
    keys = set().union(*rows)
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name: state, ppid, ..."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    """Pids of the processes below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in filter(str.isdigit, os.listdir("/proc")):
        try:
            children.setdefault(int(_stat(int(entry))[1]), []).append(int(entry))
        except OSError:
            continue  # exited while we looked
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and the Python worker daemon and
    workers it started have exited."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    # the worker daemon exits on the JVM's EOF; give it a moment, then kill
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in filter(_alive, workers):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def bench(workload: str, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    t0 = time.perf_counter()
    from aroa_etl_spark.session import get_spark
    from aroa_etl_spark.sources.tar_datasource import register_tar_source

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    try:
        register_tar_source(spark)
        session_s = time.perf_counter() - t0

        wl = WORKLOADS[workload](SIZES[workload])
        t = time.perf_counter()
        wl.generate(spark, seed, str(work / "in"))
        gen_s = time.perf_counter() - t
        untraced = Tracer(spark, engine=False)
        t = time.perf_counter()
        warm = [_one_run(spark, wl, work, untraced) for _ in range(WARMUP_RUNS)]
        setup_s = session_s + gen_s + (time.perf_counter() - t)

        attempted = sum(w["attempted"] for w in warm)
        failed = sum(len(w["failed"]) for w in warm)
        checks_failed: list[str] = []
        walls: list[float] = []
        unaccounted: list[float] = []  # untraced run time outside the stage spans
        layer_rows: list[dict] = []
        tracer = Tracer(spark, engine=True) if trace else None
        order = [untraced, tracer] if trace else [untraced]
        t_start = time.perf_counter()
        n = 0
        while n < max(len(order), MIN_RUNS) or time.perf_counter() - t_start < seconds:
            tr = order[n % len(order)]
            tr.run += 1
            r = _one_run(spark, wl, work, tr)
            attempted += r["attempted"]
            bad = set(r["failed"])
            if not bad:
                for stage, msg in wl.check(spark, str(work / "out")):
                    checks_failed.append(msg)
                    bad.add(stage)
            failed += len(bad)
            if not r["failed"]:
                if tr is tracer:
                    layer_rows.append(_layer_row(tr, tr.run, r["cached"]))
                else:
                    walls.append(r["wall"])
                    unaccounted.append(r["self"])
            n += 1

        correct = failed == 0 and bool(walls) and (not trace or bool(layer_rows))
        if not trace:
            run_s = statistics.median(walls) if walls else 0.0
            metrics = {
                "run_s": run_s,
                "records_per_s": wl.records / run_s if run_s else 0.0,
                "setup_s": setup_s,
                "result_quality": wl.quality(spark, str(work / "out")) if correct else 0.0,
                "success_frac": 1.0 - failed / attempted,
            }
            units = E2E_UNITS
        else:
            units = per_layer_units()
            metrics = {k: 0.0 for k in units}
            if layer_rows and walls:
                med = _median_rows(layer_rows)
                metrics.update({k: v for k, v in med.items() if k in units})
                untraced_run_s = statistics.median(walls)
                metrics["trace.overhead_s"] = med["trace.run_s"] - untraced_run_s
                gap = statistics.median(unaccounted)
                metrics["trace.unaccounted_s"] = gap
                # the stage spans must account for the untraced run time
                if gap > 0.05 * untraced_run_s:
                    checks_failed.append("stage spans account for run_s")
                    correct = False
                metrics.update(wl.counters(spark, str(work)))
                metrics["peak_rss_mb"] = _jvm_peak_rss_mb(spark)
                trace_dir = ROOT / ".bench_work" / "traces"
                trace_dir.mkdir(parents=True, exist_ok=True)
                tracer.dump(str(trace_dir / f"{workload}-seed{seed}.json"))
        for msg in sorted(set(checks_failed)):
            print(f"[perfbench] check failed: {msg}", file=sys.stderr)
        print(f"[perfbench] {workload} seed={seed} runs={len(walls)}+{len(layer_rows)} "
              f"walls={[round(w, 3) for w in walls]} setup: session={session_s:.2f}s "
              f"gen={gen_s:.2f}s", file=sys.stderr)
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        _stop(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "aroa_etl_spark").is_dir():
        print(f"[perfbench] no aroa_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _set_env(work)
    try:
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
