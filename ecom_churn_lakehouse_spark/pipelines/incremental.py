"""Incremental (CDC-style) gold maintenance.

The reference recomputes the FULL feature snapshot every run
(``customer_features_daily.py:110-212``) and relies on MERGE to make
the publish idempotent. At 100 TB that is the bottleneck: a daily
silver delta touches a small fraction of customers, yet the full
recompute scans every order ever placed.

This module exploits the decomposability the feature definitions
already have: every feature (recency, windowed counts, tenure, gaps —
SURVEY §2.12) is a function of ONE customer's orders only (all
aggregations, windows, and joins in ``plans/churn.py`` are keyed by
``customer_id``). Recomputing just the touched key set over the
key-scoped silver slice is therefore EXACT, and the keyed MERGE
(S7) publishes only those rows, leaving the rest of the snapshot
untouched.

Scale shape: work ∝ |delta keys| × orders-per-customer, not table
size. The scoping semi-join shuffles only the silver slice for
touched keys; with silver bucketed by customer_id it is co-located
and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.pipelines.medallion import (
    _GOLD_GATES,
    DQGateFailure,
    StageResult,
    _contract,
    _write_stage_metadata,
)
from ecom_churn_lakehouse_spark.plans.churn import customer_features
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable, MergeBlocked
from ecom_churn_lakehouse_spark.versioning import canonical_hash
from ecom_churn_lakehouse_spark.logging_util import log_event

__all__ = ["incremental_gold_update"]


def incremental_gold_update(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    changed_keys: DataFrame,
    as_of_date: str,
    run_id: str,
    feature_version: str | None = None,
) -> StageResult:
    """Recompute + MERGE gold features for ``changed_keys`` only.

    ``changed_keys``: one ``customer_id`` column — typically the
    distinct keys of the latest silver MERGE source (the CDC delta).
    Result rows are bit-identical to a full ``gold_features`` run for
    those customers (asserted in tests/test_incremental.py), because
    the feature plan is per-customer decomposable. The recompute, the
    gates and the publish are one write; row, tombstone and gate counts
    come from its commit.
    """
    gold = ManagedTable(spark, gold_path, keys=["customer_id", "as_of_date"])
    if not gold.exists():
        raise ValueError(
            "incremental update requires an existing gold table; run the "
            "full gold_features publish first"
        )
    silver = ManagedTable(spark, silver_path, keys=["order_id"]).read()
    keys = changed_keys.select("customer_id").distinct()
    scoped = silver.join(keys, on="customer_id", how="left_semi")
    orders = scoped.select(
        "customer_id",
        "order_id",
        F.to_date("order_purchase_ts").alias("order_date"),
        "order_status",
    )
    fv = feature_version or _contract("gold_customer_features").contract_hash
    snapshot_id = canonical_hash({"as_of": as_of_date, "fv": fv})
    feats = customer_features(orders, as_of_date)
    # Changed keys with NO surviving orders (full CDC erasure) produce
    # no feature row — without a tombstone their stale gold row would
    # outlive the data that justified it. Every changed key therefore
    # gets one source row: its recomputed features, or a tombstone
    # where the left join finds none, and merge(delete_col=...) removes
    # those in the same pass that upserts the recomputed rows.
    found = feats.withColumn("_found", F.lit(True))
    source = (
        keys.join(found, on="customer_id", how="left")
        .select(
            *feats.columns,
            F.to_date(F.lit(as_of_date)).alias("as_of_date"),
            F.lit(snapshot_id).alias("_snapshot_id"),
            F.lit(fv).alias("_feature_version"),
            F.lit(run_id).alias("_gold_run_id"),
            F.current_timestamp().alias("_gold_ts"),
            F.col("_found").isNull().alias("_deleted"),
        )
    )
    # Same blocking gates as the full run, evaluated over the upserted
    # delta slice only (the untouched remainder already passed them).
    try:
        commit = gold.merge(source, delete_col="_deleted", checks=_GOLD_GATES)
    except MergeBlocked as exc:
        raise DQGateFailure(
            f"incremental gold gates failed: "
            f"{[r.name for r in exc.report.blocking_failures]}"
        ) from exc
    report = commit.report
    n = report.row_count
    n_deleted = commit.metrics["numSourceRows"] - n
    log_event(
        "gold_incremental_published",
        run_id,
        rows=n,
        rows_deleted=n_deleted,
        as_of_date=as_of_date,
        snapshot_id=snapshot_id,
    )
    _write_stage_metadata(
        gold_path,
        run_id,
        {
            "stage": "gold_incremental",
            "as_of_date": as_of_date,
            "snapshot_id": snapshot_id,
            "feature_version": fv,
            "rows_published": n,
            "rows_deleted": n_deleted,
            "gates": report.to_dict(),
        },
    )
    return StageResult(rows_published=n, metadata=report.to_dict())
