"""Point-in-time churn feature / label / training-snapshot plans.

Re-expresses the reference's query workload (SURVEY.md §2.12) as pure
DataFrame→DataFrame functions over a normalized orders frame with
columns ``(customer_id, order_id, order_date, order_status)``:

- features: ``/root/reference/src/features/customer_features_daily.py:110-212``
- labels:   ``/root/reference/src/training/labels.py:145-199``
- snapshot: ``/root/reference/src/training/build_training_snapshot.py:143-177``

Semantics preserved exactly (the #1 correctness risk per SURVEY §7.4):
- trailing windows are inclusive on both ends — "30d" means
  ``order_date ∈ [as_of - 29, as_of]``;
- the label window is half-open ``(as_of, as_of + horizon]``;
- single-order customers get ``avg_days_between_orders = 0.0`` (not
  NULL), as the reference's left-join + fillna path gives;
- label eligibility requires the horizon to be fully observable:
  ``as_of + horizon <= max(order_date)`` over the whole dataset.

Scale posture (100 TB): every feature is computed inside ONE hash
exchange on ``customer_id``: a window over ``(customer_id, order_id)``
marks each order's newest row (the partitioning already satisfies it,
so it only sorts) and one aggregation takes every feature. The
exchange moves the point-in-time order rows, about what the distinct
counts' Expand moved before, and there is no join and no second
shuffle. The point-in-time cut is a literal predicate applied directly
to the scan (parquet row-group stats + partition pruning apply).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["customer_features", "churn_labels", "training_snapshot"]


def _as_of_lit(as_of_date: str | dt.date):
    return F.to_date(F.lit(str(as_of_date)))


def customer_features(orders: DataFrame, as_of_date: str | dt.date) -> DataFrame:
    """Per-customer point-in-time feature snapshot (the flagship query).

    Input: normalized orders ``(customer_id, order_id, order_date, ...)``.
    Output grain: one row per customer with ≥1 order on or before
    ``as_of_date``, columns::

        customer_id, recency_days int, orders_30d long, orders_90d long,
        lifetime_orders long, customer_tenure_days int,
        avg_days_between_orders double

    Mirrors ``customer_features_daily.py:110-212`` (A1/A2/A3 + W3 +
    J1/J2 + fillna in SURVEY §2 terms) with the same values, computed
    inside one exchange on ``customer_id``:

    - distinct order counts: the newest row of each
      ``(customer_id, order_id)`` (a window the ``customer_id`` hash
      partitioning already satisfies) stands for its order, so
      ``count_distinct(order_id)`` over a trailing window is a count of
      those rows in it — an order counts if any of its rows does;
    - mean gap: the W3 lag gaps over ``(order_date, order_id)``
      telescope, so their mean is ``(last - first) / (rows - 1)`` — the
      same double division ``avg`` ends in (integer-valued sums are
      exact), with 0.0 for single-order customers as the reference's
      left join + fillna gives.
    """
    as_of = _as_of_lit(as_of_date)
    newest = Window.partitionBy("customer_id", "order_id").orderBy(
        F.col("order_date").desc()
    )
    base = (
        orders.select("customer_id", "order_id", "order_date")
        .filter(F.col("order_date") <= as_of)
        .repartition("customer_id")
        .withColumn(
            "_newest",
            F.col("order_id").isNotNull() & (F.row_number().over(newest) == 1),
        )
    )

    def orders_since(days: int):
        return F.count_if(
            F.col("_newest") & (F.col("order_date") >= F.date_sub(as_of, days - 1))
        )

    feats = base.groupBy("customer_id").agg(
        F.max("order_date").alias("last_order_date"),
        F.min("order_date").alias("first_order_date"),
        F.count_if("_newest").alias("lifetime_orders"),
        orders_since(30).alias("orders_30d"),
        orders_since(90).alias("orders_90d"),
        F.count(F.lit(1)).alias("_rows"),
    )
    # the reference's gap join is on customer_id, which a NULL key
    # never matches: such a group gets the fillna 0.0
    has_gaps = F.col("customer_id").isNotNull() & (F.col("_rows") > 1)
    avg_gap = F.when(
        has_gaps,
        F.datediff(F.col("last_order_date"), F.col("first_order_date")).cast("double")
        / (F.col("_rows") - 1).cast("double"),
    ).otherwise(F.lit(0.0))

    return feats.select(
        "customer_id",
        F.datediff(as_of, F.col("last_order_date")).alias("recency_days"),
        F.col("orders_30d").cast("long").alias("orders_30d"),
        F.col("orders_90d").cast("long").alias("orders_90d"),
        F.col("lifetime_orders").cast("long").alias("lifetime_orders"),
        F.datediff(as_of, F.col("first_order_date")).alias("customer_tenure_days"),
        F.round(avg_gap, 6).alias("avg_days_between_orders"),
    )


def churn_labels(
    orders: DataFrame,
    as_of_date: str | dt.date,
    horizon_days: int = 60,
    inactive_statuses: tuple[str, ...] = ("P",),
) -> DataFrame:
    """60-day churn labels (``labels.py:145-199``; SURVEY §2.12).

    ``churn_label = 1`` iff the customer has **no** order whose status is
    outside ``inactive_statuses`` in the half-open window
    ``(as_of, as_of + horizon]``. Population: customers with ≥1 order on
    or before ``as_of``. Eligibility: ``as_of + horizon <= max(order_date)``
    over the dataset (labels.py:158-163) — enforced via a broadcast
    1-row bound frame, not a driver collect, so the plan stays whole.

    The reference's canceled/unavailable exclusion (labels.py:19) maps to
    ``inactive_statuses`` over the fixture's status domain {O,F,P}.
    """
    as_of = _as_of_lit(as_of_date)
    window_end = F.date_add(as_of, horizon_days)

    base = orders.select("customer_id", "order_date", "order_status")

    # Eligibility gate as a broadcast scalar frame (no driver collect).
    bounds = base.agg(F.max("order_date").alias("dataset_end_date"))
    eligible_spine = (
        base.filter(F.col("order_date") <= as_of)
        .select("customer_id")
        .distinct()
        .join(
            F.broadcast(bounds.filter(window_end <= F.col("dataset_end_date"))),
            how="inner",
        )
        .select("customer_id")
    )

    # J3 — existence test as a left join against the distinct set of
    # customers with qualifying future activity (labels.py:168-193);
    # exposed here with the direct anti-join-shaped null test.
    future_active = (
        base.filter(
            (F.col("order_date") > as_of)
            & (F.col("order_date") <= window_end)
            & (~F.col("order_status").isin(*inactive_statuses))
        )
        .select(F.col("customer_id").alias("future_customer_id"))
        .distinct()
    )

    return (
        eligible_spine.join(
            future_active,
            eligible_spine["customer_id"] == future_active["future_customer_id"],
            how="left",
        )
        .select(
            "customer_id",
            F.when(F.col("future_customer_id").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("churn_label"),
        )
    )


def training_snapshot(
    orders: DataFrame, as_of_date: str | dt.date, horizon_days: int = 60
) -> DataFrame:
    """Features ⋈ labels on the snapshot grain (J4,
    ``build_training_snapshot.py:143-177``). Inner join: only labeled
    (eligible) customers appear in the training set.
    """
    feats = customer_features(orders, as_of_date)
    labels = churn_labels(orders, as_of_date, horizon_days)
    return feats.join(labels, on="customer_id", how="inner")
