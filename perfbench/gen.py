"""Seeded input generators for the benchmark, with their own ground truth.

Everything the program sees is written here as files: raw-order batches
in the bronze contract's string shape (``order_id, customer_id,
order_status, order_purchase_timestamp``), the daily batches that follow
them, and the TPC-H-like star schema the registry entries read. The
request stream for the serving burst is generated in memory, with the
status each request must get.

The generator knows which rows it spoiled and which copies it
re-delivered, so it emits the expected bronze/silver counts itself
instead of deriving them from the program's output.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Last day of the raw history; daily batches land on the days after it.
HISTORY_END = dt.date(2025, 6, 30)
HISTORY_DAYS = 540  # ~18 months, so the 60-day label horizon is observable
HORIZON_DAYS = 60
#: Snapshot date of the cold build: the latest date whose label window
#: is fully observable inside the history.
AS_OF = HISTORY_END - dt.timedelta(days=HORIZON_DAYS)

_CANON_STATUSES = np.array(
    ["delivered", "shipped", "approved", "invoiced", "processing",
     "created", "canceled", "unavailable"]
)
_STATUS_P = np.array([0.62, 0.1, 0.06, 0.05, 0.05, 0.04, 0.05, 0.03])
#: Raw spellings the silver stage must canonicalise.
_ALIASES = {"canceled": "cancelled", "processing": "shipment_pending"}
_BAD_TIMESTAMPS = ("n/a", "31/12/2024 10:00:00", "2025-02-30T25:61:00", "")


def _fmt_ts(day: dt.date, secs: np.ndarray) -> list[str]:
    base = dt.datetime.combine(day, dt.time())
    return [(base + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in secs]


def _raw_status(rng: np.random.Generator, n: int) -> list[str]:
    canon = rng.choice(_CANON_STATUSES, size=n, p=_STATUS_P)
    out = []
    for s, u in zip(canon, rng.random(n)):
        if s in _ALIASES and u < 0.5:
            s = _ALIASES[s]
        elif u > 0.97:
            s = f" {s.capitalize()} "
        out.append(str(s))
    return out


def _write(path: str, cols: dict[str, list]) -> int:
    table = pa.table({k: pa.array(v, type=pa.string()) for k, v in cols.items()})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


@dataclass
class Batch:
    """One landed raw file and what the pipeline must make of it."""

    path: str
    day: dt.date
    rows: int
    nbytes: int
    #: customer ids (silver spelling) whose orders this batch touches
    customers: set[str]


@dataclass
class Lake:
    """Ground truth of the raw history and every batch landed so far."""

    rng: np.random.Generator
    #: silver state the generator expects: order id -> (customer,
    #: purchase timestamp as written)
    orders: dict[str, tuple[str, str]]
    #: customer -> last order day (drives the recency skew of batches)
    last_day: dict[str, dt.date]
    next_order: int
    next_customer: int
    batches: list[Batch]
    silver_rejects: int = 0
    bronze_rows: int = 0
    #: customers with a gold row (an order on or before a published
    #: snapshot date), and the landing index that last touched each
    served: set[str] = field(default_factory=set)
    touched_at: dict[str, int] = field(default_factory=dict)

    @property
    def silver_rows(self) -> int:
        return len(self.orders)

    def customers_on_or_before(self, day: dt.date) -> set[str]:
        cut = day.isoformat()
        return {c for c, t in self.orders.values() if t[:10] <= cut}


def _cust(i: int) -> str:
    return f"CUST-{i:07d}"


def _order(i: int) -> str:
    return f"ORD-{i:09d}"


def _messy_customer(rng: np.random.Generator, cid: str) -> str:
    """Raw customer id spellings that trim/lower-case to ``cid``."""
    u = rng.random()
    if u < 0.03:
        return f" {cid.lower()} "
    if u < 0.06:
        return cid.lower()
    return cid


def history(root: str, seed: int, n_orders: int, n_customers: int) -> Lake:
    """Write one raw batch of ``n_orders`` orders over ``n_customers``
    spanning ``HISTORY_DAYS`` up to ``HISTORY_END``, with seeded defects:
    ~2% stale re-deliveries in mixed case (older timestamp, so they must
    lose dedup), ~0.5% null customer ids, ~0.5% unparseable timestamps,
    and status aliases."""
    rng = np.random.default_rng(seed)
    start = rng.uniform(0, HISTORY_DAYS * 0.8, n_customers)
    churned = rng.random(n_customers) < 0.45
    end = np.where(churned, rng.uniform(start, HISTORY_DAYS), HISTORY_DAYS)
    rate = rng.lognormal(0.0, 0.8, n_customers)
    weight = rate * np.maximum(end - start, 1.0)
    per_cust = rng.multinomial(n_orders, weight / weight.sum())
    cust_idx = np.repeat(np.arange(n_customers), per_cust)
    day_off = (start[cust_idx] + rng.random(n_orders) * (end - start)[cust_idx]).astype(int)
    day_off = np.minimum(day_off, HISTORY_DAYS - 1)
    secs = rng.integers(0, 86400, n_orders)
    first_day = HISTORY_END - dt.timedelta(days=HISTORY_DAYS - 1)

    lake = Lake(rng, {}, {}, n_orders, n_customers, [])
    order_id, customer_id, status, ts = [], [], [], []
    statuses = _raw_status(rng, n_orders)
    null_cust = rng.random(n_orders) < 0.005
    bad_ts = rng.random(n_orders) < 0.005
    for i in range(n_orders):
        day = first_day + dt.timedelta(days=int(day_off[i]))
        cid = _cust(int(cust_idx[i]))
        oid = _order(i)
        order_id.append(oid)
        status.append(statuses[i])
        if null_cust[i]:
            customer_id.append(None)
        else:
            customer_id.append(_messy_customer(rng, cid))
        if bad_ts[i]:
            ts.append(_BAD_TIMESTAMPS[i % len(_BAD_TIMESTAMPS)])
        else:
            base = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=int(secs[i]))
            ts.append(base.strftime("%Y-%m-%d %H:%M:%S"))
        if null_cust[i] or bad_ts[i]:
            lake.silver_rejects += 1
            continue
        lake.orders[oid.lower()] = (cid.lower(), ts[i])
        prev = lake.last_day.get(cid.lower())
        lake.last_day[cid.lower()] = day if prev is None else max(prev, day)

    # Stale re-deliveries: same order, mixed-case id, one to three days
    # earlier, so the newer original wins the (purchase_ts desc) dedup.
    valid = [i for i in range(n_orders) if not (null_cust[i] or bad_ts[i])]
    picks = rng.choice(valid, size=int(0.02 * n_orders), replace=False)
    for i in picks:
        oid = order_id[i]
        mixed = "Ord-" + oid[4:] if rng.random() < 0.5 else " " + oid.lower()
        when = dt.datetime.strptime(ts[i], "%Y-%m-%d %H:%M:%S") - dt.timedelta(
            days=int(rng.integers(1, 4))
        )
        order_id.append(mixed)
        customer_id.append(customer_id[i])
        status.append("created")
        ts.append(when.strftime("%Y-%m-%d %H:%M:%S"))
        lake.silver_rejects += 1

    path = os.path.join(root, "history", "orders-history.parquet")
    nbytes = _write(
        path,
        {
            "order_id": order_id,
            "customer_id": customer_id,
            "order_status": status,
            "order_purchase_timestamp": ts,
        },
    )
    lake.bronze_rows = len(order_id)
    lake.served = lake.customers_on_or_before(AS_OF)
    lake.touched_at = {c: 0 for c in lake.served}
    lake.batches.append(
        Batch(path, HISTORY_END, len(order_id), nbytes, set(lake.last_day))
    )
    return lake


def daily_batch(lake: Lake, root: str, k: int, size: int) -> Batch:
    """Write the batch landing on day ``HISTORY_END + k``: new orders
    skewed toward recently active customers, ~5% re-delivered ids of
    recent orders (same timestamp, later ingest, so they must win
    dedup), a few new customers and a few invalid rows."""
    rng = lake.rng
    day = HISTORY_END + dt.timedelta(days=k)
    known = sorted(lake.last_day)
    age = np.array([(day - lake.last_day[c]).days for c in known], dtype=float)
    w = np.exp(-age / 30.0)
    n_redeliver = max(1, size // 20)
    n_new_cust = max(1, size // 60)
    n_invalid = max(2, size // 100)
    n_new = size - n_redeliver - n_new_cust - n_invalid

    order_id, customer_id, status, ts = [], [], [], []
    touched: set[str] = set()
    secs = rng.integers(0, 86400, size)

    def add_new(cid: str, j: int) -> None:
        oid = _order(lake.next_order)
        lake.next_order += 1
        order_id.append(oid)
        customer_id.append(_messy_customer(rng, cid.upper()))
        status.append(_raw_status(rng, 1)[0])
        ts.append(_fmt_ts(day, secs[j : j + 1])[0])
        lake.orders[oid.lower()] = (cid, ts[-1])
        lake.last_day[cid] = day
        touched.add(cid)

    picks = rng.choice(len(known), size=n_new, p=w / w.sum())
    for j, p in enumerate(picks):
        add_new(known[p], j)
    for j in range(n_new_cust):
        add_new(_cust(lake.next_customer).lower(), n_new + j)
        lake.next_customer += 1

    since = (day - dt.timedelta(days=14)).isoformat()
    recent = sorted(
        o for o, (_, t) in lake.orders.items() if since <= t[:10] < day.isoformat()
    )
    for o in rng.choice(recent, size=min(n_redeliver, len(recent)), replace=False):
        cid, t = lake.orders[o]
        # Same order and timestamp, new status: wins on the later ingest.
        order_id.append(o.upper())
        customer_id.append(cid.upper())
        status.append("delivered")
        ts.append(t)
        touched.add(cid)
        lake.silver_rejects += 1  # the older copy now loses dedup

    for j in range(n_invalid):
        cid = known[int(rng.integers(len(known)))]
        oid = _order(lake.next_order)
        lake.next_order += 1
        order_id.append(oid)
        if j % 2:
            customer_id.append(None)
            ts.append(_fmt_ts(day, secs[j : j + 1])[0])
        else:
            customer_id.append(cid.upper())
            ts.append(_BAD_TIMESTAMPS[j % len(_BAD_TIMESTAMPS)])
            touched.add(cid)
        status.append("created")
        lake.silver_rejects += 1

    path = os.path.join(root, f"batch-{k:03d}", f"orders-{day.isoformat()}.parquet")
    nbytes = _write(
        path,
        {
            "order_id": order_id,
            "customer_id": customer_id,
            "order_status": status,
            "order_purchase_timestamp": ts,
        },
    )
    batch = Batch(path, day, len(order_id), nbytes, touched)
    lake.bronze_rows += batch.rows
    lake.served |= touched
    for c in touched:
        lake.touched_at[c] = k
    lake.batches.append(batch)
    return batch


#: Malformed request bodies; each must get a 422.
_MALFORMED = ({"customer_id": ""}, {"customer_id": "   "}, {"customer_id": None}, {}, "cust")


def requests(lake: Lake, n: int) -> list[tuple[object, int, str | None]]:
    """A closed-loop burst of ``n`` predict requests as
    ``(payload, expected status, customer id)``: Zipf(1.1) over served
    customers ranked by how recently a landing touched them, ~5% ids the
    lake never saw (404) and ~2% malformed bodies (422)."""
    rng = lake.rng
    ranked = sorted(lake.served, key=lambda c: (-lake.touched_at.get(c, 0), c))
    p = 1.0 / np.arange(1, len(ranked) + 1) ** 1.1
    picks = rng.choice(len(ranked), size=n, p=p / p.sum())
    kind = rng.random(n)
    out: list[tuple[object, int, str | None]] = []
    for i in range(n):
        if kind[i] < 0.02:
            out.append((_MALFORMED[i % len(_MALFORMED)], 422, None))
        elif kind[i] < 0.07:
            cid = f"cust-x{int(rng.integers(10**6)):06d}"
            out.append(({"customer_id": cid}, 404, cid))
        else:
            cid = ranked[picks[i]]
            out.append(({"customer_id": cid}, 200, cid))
    return out


# ------------------------------------------------------ query-mix tables

_VOCAB = (
    "the a spark join stream small big order merge column group customer "
    "part value window scan table vector row filter key hash sort agg "
    "batch data line query slow fast"
).split()


def _ts_col(days: np.ndarray, epoch: str, secs: np.ndarray | None = None) -> pa.Array:
    us = days.astype("int64") * 86_400_000_000
    if secs is not None:
        us = us + secs.astype("int64")
    base = np.datetime64(epoch, "us").astype("int64")
    return pa.array(us + base, type=pa.timestamp("us"))


def star_schema(root: str, seed: int, sf: float) -> None:
    """Write the ten TPC-H-like tables the registry entries read, in the
    same column names, types and value shapes, at scale factor ``sf``
    (sf=0.01: 1.5k customers, 15k orders, ~60k line items)."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_part, n_supp = int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_docs = n_emb = 500
    n_events = int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_col(order_days, "1995-01-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n_li = 4 * n_ord
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts_col(order_days[li_order] + rng.integers(1, 122, n_li), "1995-01-01"),
    })
    ev_secs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts_col(np.zeros(n_events, dtype=int), "2024-01-01", ev_secs),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 2), n_events), pa.int64()),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.08 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(root, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
