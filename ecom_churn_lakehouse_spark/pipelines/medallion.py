"""Medallion pipeline drivers: bronze → silver → gold → labels → snapshot.

Thin recompositions of the library operators, preserving the
reference's stage semantics end-to-end (SURVEY.md §3):

- bronze: fingerprint-idempotent append with lineage stamping + audit
  (``orders_to_bronze.py:188-324``)
- silver: normalize → preclean split → W1 dedup → quarantine → DQ gate
  → MERGE on order_id (``orders_bronze_to_silver.py:93-221``)
- gold: point-in-time feature snapshot + quality gates → MERGE on
  (customer_id, as_of_date) (``customer_features_daily.py:215-310``)
- labels / training snapshot / latest-features export
  (``labels.py``, ``build_training_snapshot.py``, ``build_latest_features.py``)

Fixes the reference's recompute defect (§3.2) by giving each stage one
action: the stage's publish is a single ``ManagedTable`` write, and the
stage takes its row counts and gate reports from that write's
:class:`~ecom_churn_lakehouse_spark.sources.managed_table.Commit`
(``df.observe`` counts), not from ``count()`` or a separate check pass.
A frame is persisted only if it is read more than once and carries no
shuffle partitioning (silver's normalized bronze, read by the publish
and by the preclean quarantine): caching a shuffled frame pins its
shuffle partitions, so AQE can no longer coalesce them and every later
stage and snapshot inherits dozens of tiny tasks and files.

Input shape is the reference's raw orders contract: string columns
``order_id, customer_id, order_status, order_purchase_timestamp``
(+ optional extras), FIXTURES.md §1.3.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark import StorageLevel

from ecom_churn_lakehouse_spark.contracts import Contract
from ecom_churn_lakehouse_spark.dq import run_checks
from ecom_churn_lakehouse_spark.logging_util import log_event
from ecom_churn_lakehouse_spark.operators.windows import dedup_top1
from ecom_churn_lakehouse_spark.plans.churn import (
    churn_labels,
    customer_features,
)
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable, MergeBlocked
from ecom_churn_lakehouse_spark.versioning import canonical_hash, file_fingerprint

__all__ = [
    "bronze_ingest",
    "silver_publish",
    "gold_features",
    "label_snapshot",
    "training_snapshot_publish",
    "latest_features_export",
    "DQGateFailure",
]

#: Status canonicalization map (orders_bronze_to_silver.py:22-29).
STATUS_ALIASES = {
    "cancelled": "canceled",
    "shipment_pending": "processing",
}

_CONTRACTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "contracts",
)


def _contract(name: str) -> Contract:
    """Load a stage contract from the repo's contracts/ directory —
    the JSON-contract enforcement pattern of SURVEY §1.3."""
    return Contract.load(os.path.join(_CONTRACTS_DIR, f"{name}.v1.json"))


#: Allowed statuses come from the silver contract (allowed_values),
#: as in the reference (orders_bronze_to_silver.py:127).
ALLOWED_STATUSES = _contract("silver_orders").allowed_values["order_status"]


def _write_stage_metadata(path: str, run_id: str, payload: dict) -> None:
    """Per-run JSON sidecar (snapshot/label/DQ metadata pattern,
    customer_features_daily.py:83-107, labels.py:82-112)."""
    import json

    meta_dir = os.path.join(path, "_metadata")
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, f"run-{run_id}.json"), "w") as f:
        json.dump(payload, f, indent=2, default=str)


class DQGateFailure(RuntimeError):
    """Critical DQ failure: publish blocked (dq.py:87-91 semantics)."""


@dataclass
class StageResult:
    rows_published: int
    rows_rejected: int = 0
    skipped: bool = False
    metadata: dict | None = None


# ------------------------------------------------------------------ bronze


def bronze_ingest(
    spark: SparkSession,
    raw_path: str,
    bronze_path: str,
    audit_path: str,
    run_id: str,
) -> StageResult:
    """Append-only ingest with fingerprint idempotency + audit trail."""
    raw = spark.read.parquet(raw_path)
    # Contract validation on read: mismatch aborts the job (bronze
    # behavior, orders_to_bronze.py:45-60). Extras tolerated — raw
    # feeds may carry unused delivery columns (FIXTURES §1.3).
    contract = _contract("bronze_orders")
    contract.validate(raw, allow_extra=True)
    files = []
    for p in raw.inputFiles():
        local = p.removeprefix("file:")
        st = os.stat(local)
        files.append((os.path.basename(local), st.st_size, st.st_mtime))
    fingerprint = file_fingerprint(files)

    audit = ManagedTable(spark, audit_path, keys=["dataset", "fingerprint"])
    if audit.exists():
        seen = (
            audit.read()
            .filter(
                (F.col("dataset") == "orders")
                & (F.col("fingerprint") == fingerprint)
                & (F.col("status") == "success")
            )
            .limit(1)
            .count()
        )
        if seen:
            _audit_record(spark, audit, run_id, fingerprint, "skipped_already_ingested", 0)
            log_event("bronze_skipped_already_ingested", run_id, fingerprint=fingerprint)
            return StageResult(rows_published=0, skipped=True)

    stamped = (
        raw.withColumn("_ingest_run_id", F.lit(run_id))
        .withColumn("_ingest_ts", F.current_timestamp())
        .withColumn("ingest_date", F.to_date(F.current_timestamp()))
        .withColumn("_source_file", F.input_file_name())
        .withColumn("_source_fingerprint", F.lit(fingerprint))
        .withColumn("_schema_version", F.lit(contract.contract_hash))
    )
    bronze = ManagedTable(spark, bronze_path, keys=["order_id"])
    commit = bronze.append(stamped, partition_by=["ingest_date"])
    row_count = commit.metrics["numSourceRows"]
    _audit_record(spark, audit, run_id, fingerprint, "success", row_count)
    log_event("bronze_ingested", run_id, rows=row_count, fingerprint=fingerprint)
    return StageResult(rows_published=row_count)


def _audit_record(spark, audit: ManagedTable, run_id, fingerprint, status, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("dataset", T.StringType(), False),
            T.StructField("fingerprint", T.StringType(), False),
            T.StructField("run_id", T.StringType(), False),
            T.StructField("status", T.StringType(), False),
            T.StructField("row_count", T.LongType(), False),
        ]
    )
    rec = spark.createDataFrame(
        [("orders", fingerprint, run_id, status, rows)], schema=schema
    )
    audit.append(rec)


# ------------------------------------------------------------------ silver

# Blocking DQ checks come from the silver contract's quality_rules
# (YAML-expectations pattern of the reference, dq.py + orders.yml).
_SILVER_DQ_CHECKS = _contract("silver_orders").quality_rules


def silver_publish(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    quarantine_dir: str,
    run_id: str,
) -> StageResult:
    """Normalize + dedup + DQ gate + MERGE publish."""
    bronze = ManagedTable(spark, bronze_path, keys=["order_id"]).read()

    status = F.lower(F.trim(F.col("order_status")))
    for alias, canon in STATUS_ALIASES.items():
        status = F.when(status == alias, canon).otherwise(status)
    normalized = bronze.select(
        F.lower(F.trim(F.col("order_id"))).alias("order_id"),
        F.lower(F.trim(F.col("customer_id"))).alias("customer_id"),
        status.alias("order_status"),
        # try_to_timestamp: unparseable → NULL → quarantined (the
        # reference's F3 semantics; plain to_timestamp throws under
        # Spark 4 ANSI mode).
        F.try_to_timestamp(
            F.trim(F.col("order_purchase_timestamp")),
            F.lit("yyyy-MM-dd HH:mm:ss"),
        ).alias("order_purchase_ts"),
        F.col("_ingest_ts").alias("_bronze_ingest_ts"),
        F.col("_source_file").alias("_bronze_source_file"),
        F.col("_ingest_run_id").alias("_bronze_run_id"),
    ).persist(StorageLevel.MEMORY_AND_DISK)  # read by the publish and the quarantine

    valid = (
        F.col("order_id").isNotNull()
        & (F.col("order_id") != "")
        & F.col("customer_id").isNotNull()
        & F.col("order_purchase_ts").isNotNull()
        & F.col("order_status").isin(*ALLOWED_STATUSES)
    )
    # Preclean counts ride the publish write (observed above the cache,
    # so the quarantine write below does not count again).
    split = Observation()
    clean = normalized.observe(
        split, F.count(F.lit(1)).alias("rows"), F.count_if(valid).alias("valid")
    ).filter(valid)

    # W1 deterministic dedup; losers quarantined
    # (orders_bronze_to_silver.py:79-90).
    order = [
        F.col("order_purchase_ts").desc_nulls_last(),
        F.col("_bronze_ingest_ts").desc_nulls_last(),
        F.col("_bronze_source_file").desc_nulls_last(),
        F.col("_bronze_run_id").desc_nulls_last(),
    ]
    deduped = dedup_top1(clean, ["order_id"], order)

    silver_out = (
        deduped.withColumn("_silver_run_id", F.lit(run_id))
        .withColumn("_silver_ts", F.current_timestamp())
        .withColumn("_schema_version", F.lit(_contract("silver_orders").contract_hash))
    )

    blocked = None
    try:
        commit = ManagedTable(spark, silver_path, keys=["order_id"]).merge(
            silver_out, checks=_SILVER_DQ_CHECKS
        )
    except MergeBlocked as exc:  # the staged write ran: counts are in
        blocked = exc
    counts = split.get
    n_invalid = counts["rows"] - counts["valid"]
    if n_invalid:
        normalized.filter(~valid).write.mode("overwrite").parquet(
            f"{quarantine_dir}/preclean_invalid"
        )
    if blocked is not None:
        # failure path only: a check pass of its own for the samples
        run_checks(silver_out, _SILVER_DQ_CHECKS, quarantine_dir=quarantine_dir)
        normalized.unpersist()
        raise DQGateFailure(
            "critical DQ failures: "
            f"{[r.name for r in blocked.report.blocking_failures]}"
        ) from blocked
    normalized.unpersist()
    report = commit.report
    n_dedup = report.row_count
    n_rejected_dups = counts["valid"] - n_dedup
    log_event(
        "silver_published", run_id,
        rows=n_dedup, invalid=n_invalid, duplicate_rejects=n_rejected_dups,
    )
    _write_stage_metadata(
        silver_path,
        run_id,
        {"stage": "silver", "rows_published": n_dedup, "dq": report.to_dict()},
    )
    return StageResult(
        rows_published=n_dedup,
        rows_rejected=n_invalid + n_rejected_dups,
        metadata=report.to_dict(),
    )


# -------------------------------------------------------------------- gold

# Feature gates come from the gold contract (range/ordering rules,
# customer_features_daily.v1.json pattern).
_GOLD_GATES = _contract("gold_customer_features").quality_rules


def gold_features(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    as_of_date: str,
    run_id: str,
    feature_version: str | None = None,
) -> StageResult:
    """Point-in-time feature snapshot + gates + MERGE on the grain.

    The contract's gates ride the MERGE write (``merge(checks=...)``):
    one pass computes the features, counts every gate and publishes,
    and a failing gate abandons the staged snapshot before the claim.
    ``grain_unique`` is the merge's own duplicate-key count over
    (customer_id, as_of_date).
    """
    silver = ManagedTable(spark, silver_path, keys=["order_id"]).read()
    orders = silver.select(
        "customer_id",
        "order_id",
        F.to_date("order_purchase_ts").alias("order_date"),
        "order_status",
    )
    # feature_version defaults to the gold contract's hash — schema
    # changes automatically version the features
    # (customer_features_daily.py:243).
    fv = feature_version or _contract("gold_customer_features").contract_hash
    snapshot_id = canonical_hash({"as_of": as_of_date, "fv": fv})

    feats = (
        customer_features(orders, as_of_date)
        .withColumn("as_of_date", F.to_date(F.lit(as_of_date)))
        .withColumn("_snapshot_id", F.lit(snapshot_id))
        .withColumn("_feature_version", F.lit(fv))
        .withColumn("_gold_run_id", F.lit(run_id))
        .withColumn("_gold_ts", F.current_timestamp())
    )
    table = ManagedTable(spark, gold_path, keys=["customer_id", "as_of_date"])
    try:
        report = table.merge(feats, checks=_GOLD_GATES).report
    except MergeBlocked as exc:
        raise DQGateFailure(
            f"gold gates failed: {[r.name for r in exc.report.blocking_failures]}"
        ) from exc
    n = report.row_count
    log_event("gold_published", run_id, rows=n, as_of_date=as_of_date, snapshot_id=snapshot_id)
    _write_stage_metadata(
        gold_path,
        run_id,
        {
            "stage": "gold",
            "as_of_date": as_of_date,
            "snapshot_id": snapshot_id,
            "feature_version": fv,
            "rows_published": n,
            "gates": report.to_dict(),
        },
    )
    return StageResult(rows_published=n, metadata=report.to_dict())


# ------------------------------------------------------------------ labels


def label_snapshot(
    spark: SparkSession,
    silver_path: str,
    labels_path: str,
    as_of_date: str,
    run_id: str,
    horizon_days: int = 60,
) -> StageResult:
    silver = ManagedTable(spark, silver_path, keys=["order_id"]).read()
    orders = silver.select(
        "customer_id",
        F.to_date("order_purchase_ts").alias("order_date"),
        "order_status",
    )
    # Eligibility gate (labels.py:154-163), checked before anything is
    # staged: churn_labels' broadcast bound frame yields an EMPTY spine
    # when as_of + horizon exceeds max(order_date). Publishing that
    # would silently produce an empty training set, so fail loudly like
    # the reference does.
    end = orders.agg(F.max("order_date")).collect()[0][0]
    if end is not None and (
        dt.date.fromisoformat(str(as_of_date)) + dt.timedelta(days=horizon_days) > end
    ):
        raise DQGateFailure(
            "Requested as_of_date is not training-eligible because the full "
            "future label window is not observable. "
            f"as_of_date={as_of_date}, label_horizon_days={horizon_days}, "
            f"dataset_end_date={end}"
        )
    labels = (
        churn_labels(
            orders,
            as_of_date,
            horizon_days,
            inactive_statuses=("canceled", "unavailable"),
        )
        .withColumn("as_of_date", F.to_date(F.lit(as_of_date)))
        .withColumn("_label_horizon_days", F.lit(horizon_days))
        .withColumn("_labels_run_id", F.lit(run_id))
        .withColumn("_labels_ts", F.current_timestamp())
    )
    gates = [
        {"name": "grain_unique", "type": "unique", "keys": ["customer_id", "as_of_date"]},
        {"name": "label_domain", "type": "domain", "column": "churn_label", "allowed": [0, 1]},
    ]
    try:
        report = (
            ManagedTable(spark, labels_path, keys=["customer_id", "as_of_date"])
            .merge(labels, checks=gates)
            .report
        )
    except MergeBlocked as exc:
        raise DQGateFailure(
            f"label gates failed: {[r.name for r in exc.report.blocking_failures]}"
        ) from exc
    return StageResult(rows_published=report.row_count, metadata=report.to_dict())


# ------------------------------------------- training snapshot + serving


_SNAPSHOT_GATES = [
    {"name": "single_feature_version", "type": "single_value", "column": "_feature_version"},
    {"name": "single_label_horizon", "type": "single_value", "column": "_label_horizon_days"},
]


def training_snapshot_publish(
    spark: SparkSession,
    gold_path: str,
    labels_path: str,
    snapshot_path: str,
    as_of_date: str,
    run_id: str,
) -> StageResult:
    gold = ManagedTable(spark, gold_path, keys=["customer_id", "as_of_date"]).read()
    labels = ManagedTable(spark, labels_path, keys=["customer_id", "as_of_date"]).read()
    as_of = F.to_date(F.lit(as_of_date))
    snap = (
        gold.filter(F.col("as_of_date") == as_of)
        .join(
            labels.filter(F.col("as_of_date") == as_of).select(
                "customer_id", "as_of_date", "churn_label", "_label_horizon_days"
            ),
            on=["customer_id", "as_of_date"],
            how="inner",
        )
        .withColumn("_training_run_id", F.lit(run_id))
        .withColumn("_training_ts", F.current_timestamp())
    )
    # A8 version-homogeneity gates (build_training_snapshot.py:32-38):
    # exactly one feature version and one label horizon in the snapshot,
    # checked on the publish write itself.
    report = (
        ManagedTable(spark, snapshot_path, keys=["customer_id", "as_of_date"])
        .merge(snap, checks=_SNAPSHOT_GATES)
        .report
    )
    fv, n = report.results[0].value, report.row_count
    _write_stage_metadata(
        snapshot_path,
        run_id,
        {
            "stage": "training_snapshot",
            "as_of_date": as_of_date,
            "feature_version": fv,
            "rows_published": n,
        },
    )
    return StageResult(rows_published=n)


def latest_features_export(
    spark: SparkSession, gold_path: str, export_path: str
) -> StageResult:
    """W2 newest-snapshot-per-customer → parquet serving export
    (build_latest_features.py:110-142)."""
    gold = ManagedTable(spark, gold_path, keys=["customer_id", "as_of_date"]).read()
    latest = dedup_top1(
        gold,
        ["customer_id"],
        [
            F.col("as_of_date").desc(),
            F.col("_gold_ts").desc_nulls_last(),
            F.col("_snapshot_id").desc_nulls_last(),
        ],
    )
    rows = Observation()
    latest.observe(rows, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(export_path)
    return StageResult(rows_published=rows.get["n"])
