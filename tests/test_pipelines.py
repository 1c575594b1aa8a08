"""Mini end-to-end medallion slice (reference test_slice_e2e.py pattern):
raw parquet → bronze (idempotent) → silver (normalize/dedup/DQ) → gold →
labels → training snapshot → latest-features export.
"""

import os

import pytest
from pyspark.sql import Row

from ecom_churn_lakehouse_spark.pipelines import (
    bronze_ingest,
    gold_features,
    label_snapshot,
    latest_features_export,
    silver_publish,
    training_snapshot_publish,
)
from ecom_churn_lakehouse_spark.pipelines.medallion import DQGateFailure
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

RAW_ROWS = [
    # (order_id, customer_id, status, purchase_ts)
    Row(order_id="ORD-1", customer_id="cust_1", order_status="delivered",
        order_purchase_timestamp="2025-01-10 08:00:00"),
    Row(order_id="ord-1", customer_id="cust_1", order_status="shipment_pending",
        order_purchase_timestamp="2025-01-10 09:30:00"),  # dup of ORD-1, later ts wins
    Row(order_id="ord-2", customer_id="cust_1", order_status="delivered",
        order_purchase_timestamp="2025-03-10 12:00:00"),
    Row(order_id="ord-3", customer_id="cust_2", order_status="CANCELLED",
        order_purchase_timestamp="2025-02-15 10:00:00"),
    Row(order_id="ord-4", customer_id=None, order_status="created",
        order_purchase_timestamp="2025-02-20 10:00:00"),  # null key → quarantined
    Row(order_id="ord-5", customer_id="cust_3", order_status="created",
        order_purchase_timestamp="not-a-date"),  # unparseable ts → quarantined
    Row(order_id="ord-6", customer_id="cust_4", order_status="delivered",
        order_purchase_timestamp="2025-06-15 09:00:00"),  # horizon anchor
]

AS_OF = "2025-03-31"


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    base = tmp_path_factory.mktemp("lake")
    return {
        "raw": str(base / "raw"),
        "bronze": str(base / "bronze"),
        "audit": str(base / "audit"),
        "silver": str(base / "silver"),
        "quarantine": str(base / "quarantine"),
        "gold": str(base / "gold"),
        "labels": str(base / "labels"),
        "snapshot": str(base / "snapshot"),
        "export": str(base / "export"),
    }


def test_full_slice(spark, paths):
    spark.createDataFrame(RAW_ROWS).write.mode("overwrite").parquet(paths["raw"])

    # bronze: first run ingests, second run fingerprint-skips
    r1 = bronze_ingest(spark, paths["raw"], paths["bronze"], paths["audit"], "run-1")
    assert r1.rows_published == 7 and not r1.skipped
    r2 = bronze_ingest(spark, paths["raw"], paths["bronze"], paths["audit"], "run-2")
    assert r2.skipped and r2.rows_published == 0
    audit = ManagedTable(spark, paths["audit"], keys=["dataset", "fingerprint"]).read()
    assert {r["status"] for r in audit.collect()} == {"success", "skipped_already_ingested"}

    # silver: 2 quarantined (null key, bad ts), 1 dup rejected
    s = silver_publish(spark, paths["bronze"], paths["silver"], paths["quarantine"], "run-3")
    assert s.rows_published == 4  # ord-1 (deduped), ord-2, ord-3, ord-6
    assert s.rows_rejected == 3
    silver = ManagedTable(spark, paths["silver"], keys=["order_id"]).read().collect()
    by_id = {r["order_id"]: r for r in silver}
    assert set(by_id) == {"ord-1", "ord-2", "ord-3", "ord-6"}
    # dedup winner = later purchase ts; alias canonicalization applied
    assert by_id["ord-1"]["order_status"] == "processing"  # shipment_pending→processing
    assert by_id["ord-3"]["order_status"] == "canceled"    # CANCELLED→canceled
    assert str(by_id["ord-1"]["order_purchase_ts"]) == "2025-01-10 09:30:00"

    # gold features at as_of
    g = gold_features(spark, paths["silver"], paths["gold"], AS_OF, "run-4")
    gold = ManagedTable(spark, paths["gold"], keys=["customer_id", "as_of_date"]).read()
    feats = {r["customer_id"]: r.asDict() for r in gold.collect()}
    assert g.rows_published == 2  # cust_1, cust_2 (cust_4's order is after as_of)
    assert feats["cust_1"]["recency_days"] == 21
    assert feats["cust_1"]["orders_90d"] == 2
    assert feats["cust_1"]["avg_days_between_orders"] == 59.0

    # labels: canceled orders don't count as activity
    label_snapshot(spark, paths["silver"], paths["labels"], AS_OF, "run-5")
    labels = ManagedTable(spark, paths["labels"], keys=["customer_id", "as_of_date"]).read()
    lbl = {r["customer_id"]: r["churn_label"] for r in labels.collect()}
    assert lbl == {"cust_1": 1, "cust_2": 1}  # no qualifying future activity ≤ as_of+60

    # training snapshot = features ⋈ labels
    t = training_snapshot_publish(
        spark, paths["gold"], paths["labels"], paths["snapshot"], AS_OF, "run-6"
    )
    assert t.rows_published == 2

    # serving export: newest snapshot per customer
    e = latest_features_export(spark, paths["gold"], paths["export"])
    assert e.rows_published == 2

    # gold re-publish for a later as_of MERGEs new grain rows in
    gold_features(spark, paths["silver"], paths["gold"], "2025-04-15", "run-7")
    assert (
        ManagedTable(spark, paths["gold"], keys=["customer_id", "as_of_date"]).read().count()
        >= 4
    )
    # export now reflects the newest as_of per customer
    latest_features_export(spark, paths["gold"], paths["export"])
    exported = spark.read.parquet(paths["export"])
    assert {str(r["as_of_date"]) for r in exported.collect()} == {"2025-04-15"}


def test_dq_gate_blocks_publish(spark, tmp_path):
    # Two rows that normalize to the SAME order_id with identical
    # tie-break columns would still dedup fine — instead poison the
    # status domain after normalization is impossible by construction,
    # so assert the gate itself: run silver against a bronze table
    # whose rows are all invalid → publish must not happen.
    bad = [(None, "c", "delivered", "2025-01-01 00:00:00")]
    raw = str(tmp_path / "raw")
    spark.createDataFrame(
        bad,
        "order_id string, customer_id string, order_status string, "
        "order_purchase_timestamp string",
    ).write.parquet(raw)
    bronze_ingest(spark, raw, str(tmp_path / "bronze"), str(tmp_path / "audit"), "r1")
    # all rows quarantined → silver_out is empty, which is fine (no
    # critical violations on an empty frame); publish succeeds with 0.
    s = silver_publish(
        spark, str(tmp_path / "bronze"), str(tmp_path / "silver"),
        str(tmp_path / "q"), "r2",
    )
    assert s.rows_published == 0 and s.rows_rejected == 1


def test_label_horizon_not_observable_raises(spark, tmp_path):
    # ADVICE r1: an as_of whose label window extends past max(order_date)
    # must fail loudly (reference labels.py:157-163), not publish an
    # empty label table.
    import datetime as dt

    silver = ManagedTable(spark, str(tmp_path / "silver"), keys=["order_id"])
    silver.overwrite(
        spark.createDataFrame(
            [("o1", "c1", dt.datetime(2025, 1, 10, 8), "delivered")],
            "order_id string, customer_id string, "
            "order_purchase_ts timestamp, order_status string",
        )
    )
    with pytest.raises(DQGateFailure, match="not observable"):
        label_snapshot(
            spark, str(tmp_path / "silver"), str(tmp_path / "labels"),
            "2025-03-31", "r1",
        )


def test_gold_observed_gates(spark, paths, tmp_path, monkeypatch):
    # gates ride the publish write (merge(checks=...)): a second publish
    # into a fresh table reproduces the slice's gold rows
    import ecom_churn_lakehouse_spark.pipelines.medallion as med

    gold_obs = str(tmp_path / "gold_obs")
    g = gold_features(spark, paths["silver"], gold_obs, AS_OF, "run-obs")
    assert g.rows_published == 2
    keys = ["customer_id", "as_of_date"]
    classic = ManagedTable(spark, paths["gold"], keys=keys).read().filter(
        "as_of_date = date'2025-03-31'"
    )
    observed = ManagedTable(spark, gold_obs, keys=keys).read()
    feature_cols = [c for c in observed.columns if not c.startswith("_")]
    assert sorted(observed.select(*feature_cols).collect()) == sorted(
        classic.select(*feature_cols).collect()
    )

    # a failing row-predicate gate aborts before the HEAD swap: the
    # staged snapshot is abandoned and the table keeps its old contents.
    monkeypatch.setattr(
        med,
        "_GOLD_GATES",
        [{"name": "impossible", "type": "range", "column": "lifetime_orders",
          "min": 1000}],
    )
    with pytest.raises(DQGateFailure, match="impossible"):
        med.gold_features(
            spark, paths["silver"], gold_obs, "2025-04-15", "run-obs2"
        )
    after = ManagedTable(spark, gold_obs, keys=keys).read()
    assert after.count() == 2  # 2025-04-15 rows never landed


def test_stage_metadata_lists_every_contract_check(spark, paths):
    # the slice's silver (run-3) and gold (run-4) publishes gated on the
    # write; their run metadata still lists every contract check, the
    # unique ones with bad_rows = duplicated key groups
    import json
    import os

    import ecom_churn_lakehouse_spark.pipelines.medallion as med

    for table, run, key, rules in (
        ("silver", "run-3", "dq", med._SILVER_DQ_CHECKS),
        ("gold", "run-4", "gates", med._GOLD_GATES),
    ):
        with open(os.path.join(paths[table], "_metadata", f"run-{run}.json")) as f:
            checks = json.load(f)[key]["checks"]
        assert [c["name"] for c in checks] == [r["name"] for r in rules]
        assert all(c["passed"] and c["bad_rows"] == 0 for c in checks)
        assert {c["check_type"] for c in checks} >= {"unique"}


def test_silver_gate_failure_quarantines_and_blocks(spark, tmp_path, monkeypatch):
    import os

    import ecom_churn_lakehouse_spark.pipelines.medallion as med

    raw, bronze, silver, q = (str(tmp_path / n) for n in ("raw", "bronze", "silver", "q"))
    spark.createDataFrame(RAW_ROWS).write.parquet(raw)
    bronze_ingest(spark, raw, bronze, str(tmp_path / "audit"), "r1")
    silver_publish(spark, bronze, silver, q, "r2")
    table = ManagedTable(spark, silver, keys=["order_id"])
    versions, history = table.versions(), table.history()
    monkeypatch.setattr(
        med,
        "_SILVER_DQ_CHECKS",
        med._SILVER_DQ_CHECKS
        + [{"name": "no_ord_2", "type": "expr", "predicate": "order_id = 'ord-2'"}],
    )
    with pytest.raises(DQGateFailure, match="no_ord_2"):
        med.silver_publish(spark, bronze, silver, q, "r3")
    assert table.versions() == versions and table.history() == history
    sample = spark.read.parquet(os.path.join(q, "no_ord_2")).collect()
    assert [r["order_id"] for r in sample] == ["ord-2"]
    assert os.path.isdir(os.path.join(q, "preclean_invalid"))


def test_bronze_partition_pruning(spark, tmp_path):
    """The ingest_date-partitioned bronze layout is actually EXPLOITED
    (SURVEY §4: the reference writes the partitioning but never filters
    on it): an ingest_date filter reaches the scan as a PartitionFilter,
    and non-matching partition directories are never opened — proven
    behaviorally by poisoning the sibling partitions with corrupt
    parquet files and showing the pruned read still succeeds while an
    unpruned full scan fails."""
    import contextlib
    import io
    import os

    import pyspark.sql.functions as F

    data = spark.range(0, 99).select(
        F.concat(F.lit("ord-"), F.col("id")).alias("order_id"),
        F.to_date(
            F.concat(F.lit("2025-01-0"), (F.col("id") % 3 + 1).cast("string"))
        ).alias("ingest_date"),
    )
    table = ManagedTable(spark, str(tmp_path / "bronze"), keys=["order_id"])
    table.append(data, partition_by=["ingest_date"])

    filtered = table.read().filter(F.col("ingest_date") == "2025-01-01")

    # 1. Plan proof: the date predicate lands in PartitionFilters (it
    #    prunes directories at planning time, not rows at runtime).
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    scan = plan[plan.index("PartitionFilters") :].split("\n")[0]
    assert "ingest_date" in scan, plan

    # 2. Behavioral proof: corrupt every OTHER partition's directory.
    head = os.path.dirname(
        os.path.dirname(table.read().inputFiles()[0].removeprefix("file:"))
    )
    poisoned = 0
    for d in sorted(os.listdir(head)):
        if d.startswith("ingest_date=") and not d.endswith("2025-01-01"):
            with open(os.path.join(head, d, "part-poison.parquet"), "wb") as f:
                f.write(b"not a parquet file")
            poisoned += 1
    assert poisoned == 2

    # Pruned read never opens the poisoned directories...
    assert filtered.count() == 33  # ids 0,3,...,96
    # ...while a full scan (no partition filter) must touch them and die.
    with pytest.raises(Exception, match="(?i)parquet|magic|footer|corrupt"):
        table.read().count()


def test_bronze_replay_skipped_from_log_without_audit(spark, tmp_path):
    """The replay check reads bronze's own log: a raw file whose
    fingerprint is a txn of the table is skipped even when the audit
    table lost its success row (a crash between the bronze commit and
    the audit write). The raw file is written by pyarrow, so its schema
    comes from a footer without Spark's own schema in it."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    raw, bronze, audit = (str(tmp_path / n) for n in ("raw", "bronze", "audit"))
    os.makedirs(raw)
    cols = ["order_id", "customer_id", "order_status", "order_purchase_timestamp"]
    pq.write_table(
        pa.table({c: pa.array([r[c] for r in RAW_ROWS], pa.string()) for c in cols}),
        os.path.join(raw, "orders.parquet"),
    )
    first = bronze_ingest(spark, raw, bronze, audit, "r1")
    assert first.rows_published == 7
    table = ManagedTable(spark, bronze, keys=["order_id"])
    fingerprints = {r[0] for r in table.read().select("_source_fingerprint").distinct().collect()}
    assert set(table.transactions()) == fingerprints
    shutil.rmtree(audit)
    again = bronze_ingest(spark, raw, bronze, audit, "r2")
    assert again.skipped and again.rows_published == 0
    assert table.read().count() == 7
    statuses = ManagedTable(spark, audit, keys=["dataset", "fingerprint"]).read()
    assert [r["status"] for r in statuses.collect()] == ["skipped_already_ingested"]


#: Spark jobs per stage call on the tiny lake. Each publish is one write
#: action; AQE submits each of its shuffle stages as a job of its own,
#: so a bound is the write's stage count plus the stage's own reads.
#: Bronze: the append and the audit append (the raw schema comes from a
#: parquet footer, the replay check from bronze's log); silver: the
#: merge and the quarantine write; labels: the eligibility bound;
#: incremental: the changed keys, the silver slice and the merge
#: exchanges, AQE's broadcast of the small key side, and the write.
JOB_BUDGET = {
    "bronze": 2,
    "silver": 4,
    "gold": 2,
    "labels": 7,
    "snapshot": 3,
    "export": 2,
    "bronze_again": 2,
    "replay": 1,
    "incremental": 5,
}


def test_stage_job_and_file_budget(spark, tmp_path, count_jobs):
    """Each stage is one publish write plus its own reads, and the gold
    and labels snapshots are not split into shuffle-partition files
    (caching a shuffled frame used to pin them: 32 files each). A
    second landing appends in two jobs, its replay is skipped in one
    (the audit append), and an incremental gold update of the landing's
    customers stays within its own budget."""
    from pyspark.sql import functions as F

    from ecom_churn_lakehouse_spark.pipelines.incremental import incremental_gold_update

    p = {k: str(tmp_path / k) for k in (
        "raw", "raw2", "bronze", "audit", "silver", "quarantine", "gold", "labels",
        "snapshot", "export")}
    # the slice plus 64 one-order customers, so that the default 32
    # shuffle partitions all hold rows
    extra = [
        Row(order_id=f"ord-x{i}", customer_id=f"cust_x{i}", order_status="delivered",
            order_purchase_timestamp=f"2025-02-{1 + i % 28:02d} 10:00:00")
        for i in range(64)
    ]
    spark.createDataFrame(RAW_ROWS + extra).write.parquet(p["raw"])
    landing = [
        Row(order_id=f"ord-y{i}", customer_id=f"cust_x{i % 8}", order_status="delivered",
            order_purchase_timestamp="2025-03-20 10:00:00")
        for i in range(16)
    ]
    spark.createDataFrame(landing).write.parquet(p["raw2"])
    calls = {
        "bronze": lambda: bronze_ingest(spark, p["raw"], p["bronze"], p["audit"], "b"),
        "silver": lambda: silver_publish(
            spark, p["bronze"], p["silver"], p["quarantine"], "s"),
        "gold": lambda: gold_features(spark, p["silver"], p["gold"], AS_OF, "g"),
        "labels": lambda: label_snapshot(spark, p["silver"], p["labels"], AS_OF, "l"),
        "snapshot": lambda: training_snapshot_publish(
            spark, p["gold"], p["labels"], p["snapshot"], AS_OF, "t"),
        "export": lambda: latest_features_export(spark, p["gold"], p["export"]),
        "bronze_again": lambda: bronze_ingest(
            spark, p["raw2"], p["bronze"], p["audit"], "b2"),
        "replay": lambda: bronze_ingest(spark, p["raw2"], p["bronze"], p["audit"], "b3"),
        "incremental": lambda: incremental_gold_update(
            spark, p["silver"], p["gold"],
            spark.createDataFrame([(f"cust_x{i}",) for i in range(8)], "customer_id string"),
            AS_OF, "i"),
    }
    jobs, out = {}, {}
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")  # the engine default
    try:
        for stage, fn in calls.items():
            if stage == "incremental":  # the landing reaches silver first
                silver_publish(spark, p["bronze"], p["silver"], p["quarantine"], "s2")
            out[stage], jobs[stage] = count_jobs(fn)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    over = {s: (n, JOB_BUDGET[s]) for s, n in jobs.items() if n > JOB_BUDGET[s]}
    assert not over, f"stages over their job budget (jobs, budget): {over}"
    assert out["bronze_again"].rows_published == 16
    assert out["replay"].skipped and out["replay"].rows_published == 0
    assert out["incremental"].rows_published == 8
    keys = ["customer_id", "as_of_date"]
    for name in ("gold", "labels"):
        files = ManagedTable(spark, p[name], keys=keys).read().inputFiles()
        assert len(files) <= 2, (name, files)
