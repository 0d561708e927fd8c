"""Plan linting: the catalog's scale invariants as a user-facing API.

``tests/test_plan_invariants.py`` enforces no-cartesian / no-BNLJ /
no-row-at-a-time-Python across the built-in catalog; ``lint_plan``
gives USER queries the same pre-flight check before they burn a
100 TB run on a plan that cannot scale:

    findings = lint_plan(df)
    assert_scalable(df)          # raises PlanLintError on blockers

Checks (SparkPlan string inspection — the same evidence the invariant
tests use):

- **cartesian** (error): ``CartesianProduct`` — data × data growth.
- **bnlj** (error/info): ``BroadcastNestedLoopJoin`` — error unless the
  caller passes ``allow_single_row_broadcast`` names seen in the plan's
  broadcast side (the scalar-subquery pattern is fine; a broadcast
  nested loop over a real table is not, and the planner string cannot
  tell the two apart — the caller can).
- **python_udf** (error): ``BatchEvalPython`` — row-at-a-time Python in
  the hot path; rewrite as built-ins or an Arrow-batched pandas UDF
  (``ArrowEvalPython`` / ``MapInPandas`` are fine and not flagged).
- **repeated_python** (warning): one Python function result
  (``name(...)#id``) evaluated by more than one ``ArrowEvalPython`` /
  ``MapInPandas`` (or other Python exec) node — the kernel runs once per
  node over the same rows. Usual causes: a filter on a UDF result pushed
  below the projection computing it (the UDF is inlined into the
  filter), or a UDF's output consumed twice (self-join, union, anti-join
  re-add).
- **global_sort** (warning): a global ``Sort`` that is not the
  ``TakeOrderedAndProject`` top-k collapse — a total sort of the
  dataset; fine for reports, a scale ceiling on facts.
- **unpruned_scan** (warning): a parquet scan whose ``ReadSchema``
  carries more than ``wide_scan_threshold`` fields — usually a missing
  column projection.
- **exchanges** (info): shuffle count, for plan-diff review.

The linter reads the ANALYZED physical plan (pre-AQE), so verdicts are
stable and cheap — no job runs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = ["Finding", "PlanLintError", "lint_plan", "assert_scalable"]


@dataclass(frozen=True)
class Finding:
    severity: str  # 'error' | 'warning' | 'info'
    code: str
    message: str


class PlanLintError(AssertionError):
    """A query plan contains a scale blocker."""


def _spark_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


_PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMap\w+In(?:Pandas|Arrow))\b"
)
# ``name(args)#resultId``; args may nest two levels of parentheses
_PYTHON_CALL = re.compile(r"(\w+)\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)#(\d+)")


def _repeated_python(plan: str) -> list[str]:
    """``name#id`` of every Python function result evaluated by more than
    one Python exec node of ``plan``."""
    nodes: dict[str, int] = {}
    for line in plan.splitlines():
        if _PYTHON_NODE.search(line):
            for call in {f"{m[1]}#{m[2]}" for m in _PYTHON_CALL.finditer(line)}:
                nodes[call] = nodes.get(call, 0) + 1
    return sorted(call for call, n in nodes.items() if n > 1)


def lint_plan(
    df: DataFrame,
    allow_bnlj: bool = False,
    wide_scan_threshold: int = 12,
) -> list[Finding]:
    plan = _spark_plan(df)
    out: list[Finding] = []
    if "CartesianProduct" in plan:
        out.append(
            Finding(
                "error",
                "cartesian",
                "CartesianProduct: output grows as |left| x |right|; add an "
                "equi-join key (bucketize ranges/intervals/cells) or broadcast "
                "an aggregated single-row side.",
            )
        )
    if "BroadcastNestedLoopJoin" in plan:
        out.append(
            Finding(
                "info" if allow_bnlj else "error",
                "bnlj",
                "BroadcastNestedLoopJoin: fine ONLY when the build side is a "
                "1-row aggregate (scalar-subquery pattern) or a deliberately "
                "bounded baseline; pass allow_bnlj=True to sanction it.",
            )
        )
    if "BatchEvalPython" in plan:
        out.append(
            Finding(
                "error",
                "python_udf",
                "BatchEvalPython: row-at-a-time Python UDF in the hot path — "
                "use pyspark.sql.functions built-ins, or an Arrow-batched "
                "pandas UDF (@pandas_udf / mapInPandas).",
            )
        )
    repeated = _repeated_python(plan)
    if repeated:
        out.append(
            Finding(
                "warning",
                "repeated_python",
                f"Python function result(s) {', '.join(repeated)} evaluated by "
                "more than one Python node: the kernel runs again over the same "
                "rows. Give the result a single consumer, or keep filters on it "
                "above the projection that computes it.",
            )
        )
    # a global Sort that isn't the TakeOrderedAndProject top-k collapse
    if re.search(r"\bSort \[[^\n]*\], true,", plan) and "TakeOrderedAndProject" not in plan:
        out.append(
            Finding(
                "warning",
                "global_sort",
                "global Sort without a limit: totally orders the dataset "
                "(range-partition shuffle + per-partition sort). Fine for "
                "report-sized output; for fact-scale ranking use a window "
                "per group, top-k (orderBy+limit), or hash bucketing.",
            )
        )
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        n_fields = len([f for f in m.group(1).split(",") if ":" in f])
        if n_fields > wide_scan_threshold:
            out.append(
                Finding(
                    "warning",
                    "unpruned_scan",
                    f"scan reads {n_fields} columns — check that the query "
                    "projects early so column pruning reaches the scan.",
                )
            )
    n_ex = plan.count("Exchange ")
    out.append(Finding("info", "exchanges", f"{n_ex} shuffle Exchange(s) in the plan"))
    return out


def assert_scalable(df: DataFrame, allow_bnlj: bool = False) -> list[Finding]:
    """Raise :class:`PlanLintError` listing every error-severity finding;
    returns all findings (incl. warnings/info) when clean."""
    findings = lint_plan(df, allow_bnlj=allow_bnlj)
    errors = [f for f in findings if f.severity == "error"]
    if errors:
        raise PlanLintError(
            "plan has scale blockers:\n"
            + "\n".join(f"- [{f.code}] {f.message}" for f in errors)
        )
    return findings
