"""DQ engine golden tests (reference dq.py D1-D8 semantics)."""

import pytest
from pyspark.sql import Row

from ecom_churn_lakehouse_spark.dq import run_checks


def _df(spark):
    return spark.createDataFrame(
        [
            Row(id="a", status="ok", score=5),
            Row(id="b", status="ok", score=-1),       # range violation
            Row(id="b", status="weird", score=3),     # dup key + bad status
            Row(id=None, status="ok", score=2),       # null key
        ]
    )


def test_counts_and_severity_gating(spark):
    checks = [
        {"name": "id_not_null", "type": "not_null", "columns": ["id"]},
        {"name": "status_ok", "type": "in_set", "column": "status",
         "allowed": ["ok"], "severity": "warning"},
        {"name": "score_range", "type": "range", "column": "score", "min": 0},
        {"name": "pk", "type": "unique", "keys": ["id"]},
    ]
    report = run_checks(_df(spark), checks)
    by_name = {r.name: r for r in report.results}
    assert report.row_count == 4
    assert by_name["id_not_null"].bad_rows == 1
    assert by_name["status_ok"].bad_rows == 1
    assert by_name["score_range"].bad_rows == 1
    assert by_name["pk"].bad_rows == 1  # one duplicated key group
    # warning severity does not block; criticals do
    assert not by_name["status_ok"].passed
    assert {r.name for r in report.blocking_failures} == {
        "id_not_null", "score_range", "pk",
    }
    assert not report.ok


def test_all_green(spark):
    df = spark.createDataFrame([Row(id="a", score=1), Row(id="b", score=2)])
    report = run_checks(
        df,
        [
            {"type": "not_null", "columns": ["id"]},
            {"type": "unique", "keys": ["id"]},
            {"type": "range", "column": "score", "min": 0, "max": 10},
        ],
    )
    assert report.ok and all(r.passed for r in report.results)


def test_quarantine_samples(spark, tmp_path):
    checks = [{"name": "id_not_null", "type": "not_null", "columns": ["id"]}]
    run_checks(_df(spark), checks, quarantine_dir=str(tmp_path))
    sample = spark.read.parquet(str(tmp_path / "id_not_null"))
    assert sample.count() == 1 and sample.collect()[0]["id"] is None


def test_ordering_and_expr_checks(spark):
    df = spark.createDataFrame([Row(lo=1, hi=5), Row(lo=7, hi=2)])
    report = run_checks(
        df,
        [
            {"name": "lo_le_hi", "type": "ordering", "less": "lo", "greater": "hi"},
            {"name": "custom", "type": "expr", "predicate": "hi - lo > 10"},
        ],
    )
    by_name = {r.name: r for r in report.results}
    assert by_name["lo_le_hi"].bad_rows == 1
    assert by_name["custom"].bad_rows == 0


def test_unknown_check_type_rejected(spark):
    with pytest.raises(ValueError, match="unknown check type"):
        run_checks(_df(spark), [{"type": "nope"}])


def test_ordering_check_nulls_fail(spark):
    # ADVICE r1: NULL on either side of an ordering rule must FAIL
    # (consistent with `range`), not vanish as a three-valued NULL pass.
    df = spark.createDataFrame([(None, 5), (3, None), (1, 2)], "a int, b int")
    report = run_checks(
        df, [{"name": "ord", "type": "ordering", "less": "a", "greater": "b"}]
    )
    assert report.results[0].bad_rows == 2


def test_single_value_check(spark):
    """A8 homogeneity as a check: one aggregation pass (min/max/non-null
    count), so it can also ride a publish write."""
    spec = [{"name": "one_fv", "type": "single_value", "column": "fv"}]

    def check(rows):
        df = spark.createDataFrame(rows, "k int, fv string")
        return run_checks(df, spec).results[0]

    ok = check([(1, "v1"), (2, "v1")])
    assert ok.passed and ok.value == "v1" and ok.bad_rows == 0
    mixed = check([(1, "v1"), (2, "v2"), (3, "v1")])
    assert not mixed.passed and mixed.bad_rows == 3 and mixed.value is None
    nulls = check([(1, "v1"), (2, None)])
    assert not nulls.passed and nulls.bad_rows == 1
    assert not check([]).passed  # no rows: no single value to agree on


# ------------------------------------------------- history + drift


def _mk_report(bad: int, total: int = 1000):
    from ecom_churn_lakehouse_spark.dq.checks import CheckResult, DQReport

    return DQReport(
        row_count=total,
        results=[
            CheckResult(
                name="v_not_null", check_type="not_null", severity="critical",
                bad_rows=bad, passed=bad == 0,
            )
        ],
    )


def test_dq_history_drift_flags_spike_only(spark, tmp_path):
    from ecom_churn_lakehouse_spark.dq.history import detect_drift, record_report

    path = str(tmp_path / "dqh")
    # 6 stable runs around 1% bad, then a 10% spike
    for i, bad in enumerate([10, 12, 9, 11, 10, 8]):
        record_report(spark, path, f"run-{i:03d}", _mk_report(bad))
    stable = {r["name"]: r for r in detect_drift(spark, path).collect()}
    assert stable["v_not_null"]["drifted"] is False

    record_report(spark, path, "run-906", _mk_report(100))
    out = {r["name"]: r for r in detect_drift(spark, path).collect()}
    r = out["v_not_null"]
    assert r["drifted"] is True and r["latest_ratio"] == 0.1
    assert r["n_history"] == 6


def test_dq_history_short_baseline_never_guesses(spark, tmp_path):
    from ecom_churn_lakehouse_spark.dq.history import detect_drift, record_report

    path = str(tmp_path / "dqh2")
    record_report(spark, path, "run-000", _mk_report(10))
    record_report(spark, path, "run-001", _mk_report(500))  # wild, but 1-run history
    out = detect_drift(spark, path).collect()[0]
    assert out["drifted"] is False and out["n_history"] == 1


def test_dq_history_record_is_idempotent(spark, tmp_path):
    from ecom_churn_lakehouse_spark.dq.history import record_report
    from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

    path = str(tmp_path / "dqh3")
    record_report(spark, path, "run-000", _mk_report(5))
    record_report(spark, path, "run-000", _mk_report(5))  # replay
    assert ManagedTable(spark, path, keys=["run_id", "name"]).read().count() == 1


def test_yaml_expectations_compile_reference_file(spark, tmp_path):
    """The reference's exact expectations file format
    (data/expectations/silver/orders.yml) compiles into the engine and
    gates on its critical checks."""
    from ecom_churn_lakehouse_spark.dq import load_expectations_yaml, run_checks

    yml = tmp_path / "orders.yml"
    # verbatim structure of the reference file (4 checks, all critical)
    yml.write_text(
        """\
dataset: orders
layer: silver
version: v1

checks:
  - name: order_id_not_null
    type: not_null
    columns: [order_id]
    severity: critical

  - name: customer_id_not_null
    type: not_null
    columns: [customer_id]
    severity: critical

  - name: unique_order_id
    type: unique
    columns: [order_id]
    severity: critical

  - name: allowed_order_status
    type: in_set
    column: order_status
    allowed:
      - approved
      - canceled
      - created
      - delivered
      - invoiced
      - processing
      - shipped
      - unavailable
    severity: critical
"""
    )
    suite = load_expectations_yaml(str(yml))
    assert (suite.dataset, suite.layer, suite.version) == ("orders", "silver", "v1")
    assert len(suite.checks) == 4 == len(suite.critical_checks)
    # unique's columns mapped onto the engine's keys field
    uniq = next(c for c in suite.checks if c["type"] == "unique")
    assert uniq["keys"] == ["order_id"]

    good = spark.createDataFrame(
        [Row(order_id="o1", customer_id="c1", order_status="delivered"),
         Row(order_id="o2", customer_id="c2", order_status="shipped")]
    )
    assert run_checks(good, suite.checks).ok

    bad = spark.createDataFrame(
        [Row(order_id="o1", customer_id="c1", order_status="delivered"),
         Row(order_id="o1", customer_id=None, order_status="bogus")]
    )
    report = run_checks(bad, suite.checks)
    assert not report.ok
    assert {r.name for r in report.blocking_failures} == {
        "customer_id_not_null", "unique_order_id", "allowed_order_status",
    }
