"""Independent recomputation of the lake's outputs with DuckDB.

Silver, gold features and churn labels are recomputed from the raw
files alone, with the silver contract's rules spelled in SQL: trim and
lower-case keys, canonical statuses, unparseable timestamps and null
keys rejected, newest purchase (then newest landing) wins per order id.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd

_ALLOWED = ("approved", "canceled", "created", "delivered", "invoiced",
            "processing", "shipped", "unavailable")
_INACTIVE = ("canceled", "unavailable")
FEATURE_COLS = ["recency_days", "orders_30d", "orders_90d", "lifetime_orders",
             "customer_tenure_days", "avg_days_between_orders"]


class Oracle:
    """DuckDB view of the silver orders implied by ``raw_files``, in
    landing order."""

    def __init__(self, raw_files: list[str], temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        self.con.execute("SET threads=2")
        landing = pd.DataFrame({"filename": raw_files, "landing": range(len(raw_files))})
        self.con.register("landing", landing)
        files = ", ".join(f"'{p}'" for p in raw_files)
        allowed = ", ".join(f"'{s}'" for s in _ALLOWED)
        self.con.execute(f"""
        CREATE TABLE silver AS
        WITH raw AS (
            SELECT r.*, l.landing FROM read_parquet([{files}], filename=true) r
            JOIN landing l USING (filename)
        ), norm AS (
            SELECT lower(trim(order_id)) AS order_id,
                   lower(trim(customer_id)) AS customer_id,
                   CASE lower(trim(order_status))
                        WHEN 'cancelled' THEN 'canceled'
                        WHEN 'shipment_pending' THEN 'processing'
                        ELSE lower(trim(order_status)) END AS order_status,
                   try_strptime(trim(order_purchase_timestamp), '%Y-%m-%d %H:%M:%S') AS ts,
                   landing
            FROM raw
        ), valid AS (
            SELECT * FROM norm
            WHERE order_id IS NOT NULL AND order_id <> '' AND customer_id IS NOT NULL
              AND ts IS NOT NULL AND order_status IN ({allowed})
        )
        SELECT order_id, customer_id, order_status, CAST(ts AS DATE) AS order_date
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY order_id ORDER BY ts DESC, landing DESC) AS rn
              FROM valid)
        WHERE rn = 1
        """)

    def close(self) -> None:
        self.con.close()

    def silver_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM silver").fetchone()[0]

    def features(self, keys: pd.DataFrame) -> pd.DataFrame:
        """Point-in-time features for each ``(customer_id, as_of_date)``
        in ``keys``; a key with no order on or before its date has no row."""
        self.con.register("feature_keys", keys)
        return self.con.execute("""
        WITH base AS (
            SELECT k.customer_id, k.as_of_date, s.order_id, s.order_date
            FROM feature_keys k JOIN silver s USING (customer_id)
            WHERE s.order_date <= k.as_of_date
        ), stats AS (
            SELECT customer_id, as_of_date,
                   date_diff('day', max(order_date), as_of_date) AS recency_days,
                   count(DISTINCT CASE WHEN order_date >= as_of_date - 29 THEN order_id END) AS orders_30d,
                   count(DISTINCT CASE WHEN order_date >= as_of_date - 89 THEN order_id END) AS orders_90d,
                   count(DISTINCT order_id) AS lifetime_orders,
                   date_diff('day', min(order_date), as_of_date) AS customer_tenure_days
            FROM base GROUP BY customer_id, as_of_date
        ), gaps AS (
            SELECT customer_id, as_of_date, avg(gap) AS avg_gap FROM (
                SELECT customer_id, as_of_date,
                       CAST(date_diff('day', lag(order_date) OVER (
                           PARTITION BY customer_id, as_of_date ORDER BY order_date, order_id),
                           order_date) AS DOUBLE) AS gap
                FROM base)
            WHERE gap IS NOT NULL GROUP BY customer_id, as_of_date
        )
        SELECT s.*, round(coalesce(g.avg_gap, 0.0), 6) AS avg_days_between_orders
        FROM stats s LEFT JOIN gaps g USING (customer_id, as_of_date)
        ORDER BY customer_id, as_of_date
        """).df()

    def labels(self, as_of: dt.date, horizon_days: int) -> pd.DataFrame:
        inactive = ", ".join(f"'{s}'" for s in _INACTIVE)
        return self.con.execute(f"""
        WITH bound AS (SELECT max(order_date) AS end_date FROM silver),
        spine AS (
            SELECT DISTINCT customer_id FROM silver, bound
            WHERE order_date <= DATE '{as_of}'
              AND DATE '{as_of}' + {horizon_days} <= end_date
        ), active AS (
            SELECT DISTINCT customer_id FROM silver
            WHERE order_date > DATE '{as_of}'
              AND order_date <= DATE '{as_of}' + {horizon_days}
              AND order_status NOT IN ({inactive})
        )
        SELECT s.customer_id, CASE WHEN a.customer_id IS NULL THEN 1 ELSE 0 END AS churn_label
        FROM spine s LEFT JOIN active a USING (customer_id)
        ORDER BY customer_id
        """).df()


def frame_mismatches(actual: pd.DataFrame, expected: pd.DataFrame, keys: list[str],
                     cols: list[str]) -> int:
    """Rows missing on either side plus rows whose ``cols`` differ
    (doubles within 1e-6: both engines round to 6 places, and a value on
    a rounding half-boundary may land either side of it)."""
    a = actual[keys + cols].copy()
    e = expected[keys + cols].copy()
    for k in keys:
        if "date" in k:
            a[k] = pd.to_datetime(a[k]).dt.date
            e[k] = pd.to_datetime(e[k]).dt.date
    m = a.merge(e, on=keys, how="outer", suffixes=("_a", "_e"), indicator=True)
    bad = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    wrong = pd.Series(False, index=both.index)
    for c in cols:
        x, y = both[f"{c}_a"], both[f"{c}_e"]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            wrong |= (x.astype(float) - y.astype(float)).abs() > 1e-6
        else:
            wrong |= x.astype("int64") != y.astype("int64")
    return bad + int(wrong.sum())



