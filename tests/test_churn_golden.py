"""Golden-value tests for the churn plans, pinned to the reference's
unit-test fixtures (tests/unit/test_customer_features_daily.py:8-60 in
the reference): cust_1 with orders on 2025-01-10 and 2025-03-10 at
as_of 2025-03-31 ⇒ recency 21, orders_30d 1, orders_90d 2, lifetime 2,
tenure 80, avg gap 59.0; single-order cust_2 ⇒ avg gap 0.0.
"""

import datetime as dt

from pyspark.sql import Row

from ecom_churn_lakehouse_spark.plans.churn import (
    churn_labels,
    customer_features,
    training_snapshot,
)

AS_OF = "2025-03-31"


def _orders(spark):
    rows = [
        Row(customer_id="cust_1", order_id="o1", order_date=dt.date(2025, 1, 10), order_status="delivered"),
        Row(customer_id="cust_1", order_id="o2", order_date=dt.date(2025, 3, 10), order_status="delivered"),
        Row(customer_id="cust_2", order_id="o3", order_date=dt.date(2025, 2, 15), order_status="shipped"),
        # future activity: cust_1 orders again inside the 60d label window
        Row(customer_id="cust_1", order_id="o4", order_date=dt.date(2025, 4, 20), order_status="delivered"),
        # cust_2's only future order is canceled → still churned
        Row(customer_id="cust_2", order_id="o5", order_date=dt.date(2025, 4, 25), order_status="canceled"),
        # anchor so the 60-day horizon is observable (eligibility gate)
        Row(customer_id="cust_3", order_id="o6", order_date=dt.date(2025, 6, 15), order_status="created"),
    ]
    return spark.createDataFrame(rows)


def test_feature_golden_values(spark):
    feats = {r["customer_id"]: r.asDict() for r in customer_features(_orders(spark), AS_OF).collect()}
    c1 = feats["cust_1"]
    assert c1["recency_days"] == 21
    assert c1["orders_30d"] == 1
    assert c1["orders_90d"] == 2
    assert c1["lifetime_orders"] == 2
    assert c1["customer_tenure_days"] == 80
    assert c1["avg_days_between_orders"] == 59.0
    c2 = feats["cust_2"]
    assert c2["lifetime_orders"] == 1
    assert c2["avg_days_between_orders"] == 0.0  # single order → 0.0, not NULL
    assert "cust_3" not in feats or feats["cust_3"]["lifetime_orders"] >= 1


def test_labels_golden(spark):
    labels = {
        r["customer_id"]: r["churn_label"]
        for r in churn_labels(
            _orders(spark), AS_OF, 60, inactive_statuses=("canceled", "unavailable")
        ).collect()
    }
    assert labels["cust_1"] == 0  # delivered order on 2025-04-20 (in window)
    assert labels["cust_2"] == 1  # only future order is canceled
    assert "cust_3" not in labels  # no orders at or before as_of


def test_label_window_is_half_open(spark):
    """Order exactly at as_of does NOT count as future activity; order
    exactly at as_of+horizon DOES (window is (as_of, as_of+h])."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    rows = [
        Row(customer_id="a", order_id="a1", order_date=dt.date(2025, 3, 31), order_status="delivered"),
        Row(customer_id="b", order_id="b1", order_date=dt.date(2025, 1, 1), order_status="delivered"),
        Row(customer_id="b", order_id="b2", order_date=dt.date(2025, 5, 30), order_status="delivered"),
    ]
    labels = {
        r["customer_id"]: r["churn_label"]
        for r in churn_labels(spark.createDataFrame(rows), AS_OF, 60).collect()
    }
    assert labels["a"] == 1  # its only order is AT as_of → no future activity
    assert labels["b"] == 0  # 2025-05-30 == as_of+60 → inside half-open window


def test_training_snapshot_joins_eligible_only(spark):
    snap = training_snapshot(_orders(spark), AS_OF, 60).collect()
    by_id = {r["customer_id"]: r.asDict() for r in snap}
    assert set(by_id) == {"cust_1", "cust_2"}
    assert by_id["cust_1"]["churn_label"] in (0, 1)
    assert by_id["cust_1"]["recency_days"] == 21


def _reference_features(orders, as_of_date):
    """The three-aggregation plan customer_features replaced: distinct
    counts with count_distinct, mean gap from lag over (order_date,
    order_id), left-joined and filled with 0.0."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    as_of = F.to_date(F.lit(as_of_date))
    base = orders.select("customer_id", "order_id", "order_date").filter(
        F.col("order_date") <= as_of
    )
    stats = base.groupBy("customer_id").agg(
        F.max("order_date").alias("last_order_date"),
        F.min("order_date").alias("first_order_date"),
        F.count_distinct("order_id").alias("lifetime_orders"),
        F.count_distinct(
            F.when(F.col("order_date") >= F.date_sub(as_of, 29), F.col("order_id"))
        ).alias("orders_30d"),
        F.count_distinct(
            F.when(F.col("order_date") >= F.date_sub(as_of, 89), F.col("order_id"))
        ).alias("orders_90d"),
    )
    w = Window.partitionBy("customer_id").orderBy("order_date", "order_id")
    gaps = (
        base.withColumn("_prev", F.lag("order_date").over(w))
        .withColumn(
            "gap_days",
            F.when(F.col("_prev").isNotNull(), F.datediff("order_date", "_prev")),
        )
        .filter(F.col("gap_days").isNotNull())
        .groupBy("customer_id")
        .agg(F.avg(F.col("gap_days").cast("double")).alias("avg_days_between_orders"))
    )
    feats = stats.join(gaps, on="customer_id", how="left").fillna(
        {"avg_days_between_orders": 0.0}
    )
    return feats.select(
        "customer_id",
        F.datediff(as_of, F.col("last_order_date")).alias("recency_days"),
        F.col("orders_30d").cast("long").alias("orders_30d"),
        F.col("orders_90d").cast("long").alias("orders_90d"),
        F.col("lifetime_orders").cast("long").alias("lifetime_orders"),
        F.datediff(as_of, F.col("first_order_date")).alias("customer_tenure_days"),
        F.round(F.col("avg_days_between_orders"), 6).alias("avg_days_between_orders"),
    )


def test_features_match_three_aggregation_reference(spark):
    """customer_features (one exchange) equals the plan it replaced on
    the cases its window/telescoping rewrite could get wrong."""
    d = dt.date
    rows = [
        # an order id repeated on dates straddling the 30d (>= 03-02)
        # and 90d (>= 01-01) bounds, plus an order exactly on as_of
        ("a", "a1", d(2025, 3, 2)), ("a", "a1", d(2024, 12, 31)),
        ("a", "a2", d(2025, 1, 1)), ("a", "a2", d(2025, 3, 1)),
        ("a", "a3", d(2025, 3, 31)),
        # null order ids
        ("b", None, d(2025, 3, 10)), ("b", None, d(2025, 2, 1)), ("b", "b1", d(2025, 1, 15)),
        ("g", None, d(2025, 3, 1)),
        # same-day duplicates
        ("c", "c1", d(2025, 3, 5)), ("c", "c1", d(2025, 3, 5)), ("c", "c2", d(2025, 3, 5)),
        ("c", "c3", d(2025, 1, 20)),
        # single-order customers, one with the order delivered twice
        ("s", "s1", d(2025, 2, 20)),
        ("t", "t1", d(2025, 3, 15)), ("t", "t1", d(2025, 3, 15)),
        # every order after as_of; one also before a later as_of
        ("f", "f1", d(2025, 4, 2)), ("f", "f2", d(2025, 5, 1)),
        # a NULL customer
        (None, "n1", d(2025, 2, 1)), (None, "n2", d(2025, 3, 1)),
    ]
    orders = spark.createDataFrame(
        rows, "customer_id string, order_id string, order_date date"
    )
    for as_of in (AS_OF, "2025-04-15"):
        got = sorted(customer_features(orders, as_of).collect(), key=str)
        want = sorted(_reference_features(orders, as_of).collect(), key=str)
        assert got == want, as_of
        assert customer_features(orders, as_of).schema == _reference_features(orders, as_of).schema
    feats = {r["customer_id"]: r for r in customer_features(orders, AS_OF).collect()}
    assert "f" not in feats
    assert feats["s"]["avg_days_between_orders"] == 0.0
    assert feats["t"]["avg_days_between_orders"] == 0.0
    assert (feats["a"]["orders_30d"], feats["a"]["orders_90d"], feats["a"]["lifetime_orders"]) == (
        2, 3, 3
    )
    assert feats["b"]["lifetime_orders"] == 1 and feats["g"]["lifetime_orders"] == 0
    assert feats["c"]["lifetime_orders"] == 3
    assert feats[None]["avg_days_between_orders"] == 0.0
