"""Config-driven data-quality check engine (SURVEY.md §2.11 D1–D8).

Generalizes the reference's ``src/common/dq.py`` (check compiler at
:19-39, runner at :42-92, report/quarantine at :95-119) plus its
hard-coded stage gates (range gate ``customer_features_daily.py:55-62``,
ordering gate ``:64-68``, domain gate ``labels.py:68``) into one
declarative engine: a check spec is a plain dict, compiled to a Column
predicate that selects BAD rows; the runner counts violations per
check in a single job, applies severity gating driver-side, and
optionally quarantines bounded failed-row samples.

Scale design: all checks over one input are evaluated in ONE pass —
a single aggregation of conditional counts — instead of the
reference's one-job-per-check recomputation (SURVEY §3.2 defect). The
aggregates are plain (no DISTINCT), so the same pass can ride a
publish write as a ``df.observe`` (``ManagedTable.merge(checks=...)``)
and cost no job of its own. Failed-row sampling is bounded (``limit``)
so quarantine never becomes a second full scan's worth of output.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "compile_check",
    "run_checks",
    "check_aggregates",
    "report_from_metrics",
    "CheckResult",
    "DQReport",
]


def compile_check(spec: dict[str, Any]) -> Column:
    """Compile a check spec into a predicate selecting VIOLATING rows.

    Supported types (reference mapping in parentheses):
    - ``not_null``: OR-fold isNull over ``columns`` (D1, dq.py:19-28)
    - ``in_set``: NULL or outside ``allowed`` (D3, dq.py:38-39)
    - ``range``: outside [min, max]; NULL fails (D5,
      customer_features_daily.py:55-62)
    - ``ordering``: requires ``less <= greater``; violation when not
      (D6, customer_features_daily.py:64-68)
    - ``domain``: alias of in_set (D7, labels.py:68)
    - ``expr``: arbitrary SQL predicate string selecting bad rows (P8
      generalization)

    ``unique`` (D2) is group-based and ``single_value`` (A8) a
    whole-frame property; :func:`check_aggregates` and
    :func:`report_from_metrics` handle both.
    """
    t = spec["type"]
    if t == "not_null":
        bad = F.lit(False)
        for c in spec["columns"]:
            bad = bad | F.col(c).isNull()
        return bad
    if t in ("in_set", "domain"):
        c = F.col(spec["column"])
        return c.isNull() | ~c.isin(*spec["allowed"])
    if t == "range":
        c = F.col(spec["column"])
        bad = c.isNull()
        if "min" in spec:
            bad = bad | (c < F.lit(spec["min"]))
        if "max" in spec:
            bad = bad | (c > F.lit(spec["max"]))
        return bad
    if t == "ordering":
        # NULL on either side fails explicitly (consistent with `range`):
        # ~(less <= greater) alone is NULL-for-NULL inputs, which the
        # conditional counter in run_checks would treat as a pass.
        less, greater = F.col(spec["less"]), F.col(spec["greater"])
        return less.isNull() | greater.isNull() | ~(less <= greater)
    if t == "expr":
        return F.expr(spec["predicate"])
    raise ValueError(f"unknown check type {t!r}")




@dataclass
class CheckResult:
    name: str
    check_type: str
    severity: str
    bad_rows: int
    passed: bool
    #: the column's one value, for a passing ``single_value`` check
    value: Any = None


@dataclass
class DQReport:
    row_count: int
    results: list[CheckResult] = field(default_factory=list)

    @property
    def blocking_failures(self) -> list[CheckResult]:
        return [r for r in self.results if not r.passed and r.severity == "critical"]

    @property
    def ok(self) -> bool:
        return not self.blocking_failures

    def to_dict(self) -> dict[str, Any]:
        return {
            "row_count": self.row_count,
            "ok": self.ok,
            "checks": [
                {k: v for k, v in vars(r).items() if k != "value" or v is not None}
                for r in self.results
            ],
        }

    def write_json(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2)


def check_aggregates(
    checks: list[dict[str, Any]], where: Column | None = None
) -> list[Column]:
    """The aggregates every non-``unique`` check in ``checks`` needs,
    over the rows where ``where`` holds (all rows by default).

    The columns are plain aggregates (no DISTINCT), so they serve both
    a ``df.agg`` pass (:func:`run_checks`) and a ``df.observe`` riding
    a write (``ManagedTable.merge(checks=...)``): ``__n`` counts the
    rows, ``__c{i}`` the violations of row-predicate check ``i``, and a
    ``single_value`` check ``i`` (A8 version homogeneity,
    build_training_snapshot.py:32-38) gets ``__lo{i}``/``__hi{i}``/
    ``__nn{i}``: min, max and non-null count of its column. ``unique``
    checks are group-based and get no column here. Unknown check types
    raise before any Spark work.
    """
    rows = F.lit(True) if where is None else where
    aggs = [F.count_if(rows).alias("__n")]
    for i, spec in enumerate(checks):
        if spec["type"] == "unique":
            continue
        if spec["type"] == "single_value":
            v = F.when(rows, F.col(spec["column"]))
            aggs += [
                F.min(v).alias(f"__lo{i}"),
                F.max(v).alias(f"__hi{i}"),
                F.count(v).alias(f"__nn{i}"),
            ]
        else:
            aggs.append(F.count_if(rows & compile_check(spec)).alias(f"__c{i}"))
    return aggs


def report_from_metrics(
    metrics: dict[str, Any],
    checks: list[dict[str, Any]],
    dup_groups: Callable[[dict[str, Any]], int],
) -> DQReport:
    """Build a :class:`DQReport`, in ``checks`` order, from the values
    of :func:`check_aggregates`; ``dup_groups(spec)`` gives a ``unique``
    check's duplicated key groups (its ``bad_rows``).

    A ``single_value`` check passes when the frame has rows, none NULL,
    and min == max; its ``bad_rows`` are the NULL rows plus, when the
    values disagree, every non-NULL row.
    """
    n = int(metrics["__n"])
    report = DQReport(row_count=n)
    for i, spec in enumerate(checks):
        t, value = spec["type"], None
        if t == "unique":
            name = spec.get("name", "unique_" + "_".join(spec["keys"]))
            bad = int(dup_groups(spec))
            passed = bad == 0
        elif t == "single_value":
            name = spec.get("name", f"single_value_{spec['column']}")
            lo, hi, nn = metrics[f"__lo{i}"], metrics[f"__hi{i}"], int(metrics[f"__nn{i}"])
            bad = (n - nn) + (nn if lo != hi else 0)
            passed = n > 0 and bad == 0
            value = lo if passed else None
        else:
            name = spec.get("name", f"{t}_{i}")
            bad = int(metrics[f"__c{i}"])
            passed = bad == 0
        report.results.append(
            CheckResult(
                name=name,
                check_type=t,
                severity=spec.get("severity", "critical"),
                bad_rows=bad,
                passed=passed,
                value=value,
            )
        )
    return report


def run_checks(
    df: DataFrame,
    checks: list[dict[str, Any]],
    quarantine_dir: str | None = None,
    sample_rows: int = 100,
) -> DQReport:
    """Evaluate all checks in a pass of their own; return the report.

    Row-predicate and ``single_value`` checks are fused into ONE
    aggregation job (:func:`check_aggregates`), unlike the reference's
    per-check jobs. Unique checks each need a groupBy. Quarantine (D8)
    writes at most ``sample_rows`` violating rows per failed row or
    unique check as parquet. Publishing stages gate through
    ``ManagedTable.merge(checks=...)`` instead, which takes the same
    counts from the publish write; this pass serves ad-hoc audits and
    failure-path quarantine samples.
    """
    counts = df.agg(*check_aggregates(checks)).collect()[0].asDict()
    dup_frames = {
        id(spec): df.groupBy(*spec["keys"]).count().filter(F.col("count") > 1)
        for spec in checks
        if spec["type"] == "unique"
    }
    report = report_from_metrics(
        counts, checks, lambda spec: dup_frames[id(spec)].count()
    )
    if quarantine_dir:
        for spec, result in zip(checks, report.results):
            if not result.bad_rows or spec["type"] == "single_value":
                continue
            if spec["type"] == "unique":
                # Failed-row extraction via semi-join back to the
                # duplicate key set (J5, dq.py:31-35).
                keys = spec["keys"]
                bad = df.join(
                    dup_frames[id(spec)].select(*keys), on=keys, how="left_semi"
                )
            else:
                bad = df.filter(compile_check(spec))
            bad.limit(sample_rows).write.mode("overwrite").parquet(
                f"{quarantine_dir}/{result.name}"
            )
    return report
