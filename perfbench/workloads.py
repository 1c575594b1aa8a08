"""The two workloads, driven through the program's public functions.

Each workload builds its inputs from the seed during set-up, then times
a fixed unit of work (a sequence of daily landings, a pass over the
query mix) and checks the outputs after timing stops. ``Run`` collects
the timings, the check outcomes and the per-layer accounting.
"""

from __future__ import annotations

import copy
import importlib.util
import math
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import gen
import oracle as oracle_mod
from tracing import Tracer, checkpoints, delta_log_adds, delta_log_version, tree_bytes

from ecom_churn_lakehouse_spark.contracts import Contract
from ecom_churn_lakehouse_spark.dq import checks as dq_checks
from ecom_churn_lakehouse_spark.pipelines import incremental, medallion
from ecom_churn_lakehouse_spark.serving import api as serving_api
from ecom_churn_lakehouse_spark.serving import feature_store
from ecom_churn_lakehouse_spark.sources import tables
from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable
from ecom_churn_lakehouse_spark.training import train as training

#: Sizes. A cold chain costs ~30 s and a refresh ~9 s on 4 cores
#: whatever the data size at this scale (both are bound by Spark job
#: count), so the run budget, not the data, sets how much fits: one
#: 20k-order base lake and three daily landings of 0.5% of it, the
#: first of which warms the refresh path in set-up.
HISTORY_ORDERS = 20_000
HISTORY_CUSTOMERS = 2_000
BATCH_ROWS = HISTORY_ORDERS // 200
LANDINGS = 3
REQUESTS_PER_LANDING = 5_000
QUERY_MIX_SF = 0.01
STAR_SEED = 42
#: Five entries, so that a run fits its cold oracle pass and several
#: timed passes in the budget and takes each entry at its median over
#: them. kcore_peeling_rounds stands for the iterative build-bound
#: entries, minhash_lsh_pairs for LSH banding. Left out (cold / warm on
#: 4 CPUs): dbscan_cluster_labels (~18 s / ~7 s), semdedup_keep_manifest
#: (~7 s / ~5 s), ann_ivfpq_topk (~4 s / ~3 s), fellegi_sunter_em_params
#: (~4 s / ~2.3 s) and mutual_knn_graph (~3 s / ~2 s).
QUERY_MIX = (
    "kcore_peeling_rounds", "bootstrap_ab_diff_ci", "minhash_lsh_pairs",
    "pricing_summary", "image_decode_stats",
)
#: Nominal seconds of one warm pass over QUERY_MIX on 4 CPUs: --seconds
#: sets the number of timed passes through it.
PASS_S = 6.0
API_KEY = "perfbench"
TABLES = ("audit", "bronze", "silver", "gold", "labels", "snapshot")


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    root: str
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: per timed unit: wall seconds, and the step times inside it
    units: list[float] = field(default_factory=list)
    steps: list[list[float]] = field(default_factory=list)
    #: timed-section boundaries per unit: epoch seconds (to match the
    #: event log) and perf_counter seconds (to match spans)
    windows: list[tuple[float, float]] = field(default_factory=list)
    pwindows: list[tuple[float, float]] = field(default_factory=list)
    #: workload-specific figures, printed with the result
    extra: dict[str, float] = field(default_factory=dict)
    #: per-layer counts, per unit
    layer_units: list[dict[str, float]] = field(default_factory=list)
    setup_parts: list[float] = field(default_factory=list)
    #: the base-lake build inside set-up: its windows and lake counts
    cold_window: tuple | None = None
    cold_layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def op(self, fn, what: str):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.problems.append(f"{what} raised:\n{traceback.format_exc()}")
            raise

    def step_medians(self) -> list[float]:
        """Each step's median over the timed units, which all repeat the
        same steps in the same order."""
        return [statistics.median(ts) for ts in zip(*self.steps)]


def instrument(t: Tracer) -> None:
    """Wrap every public call the per-layer metrics are taken at."""
    def rows(s, out):
        s.counts["rows"] = out.rows_published

    for fn, name in (
        ("bronze_ingest", "medallion.bronze"), ("silver_publish", "medallion.silver"),
        ("gold_features", "medallion.gold"), ("label_snapshot", "medallion.labels"),
        ("training_snapshot_publish", "medallion.snapshot"),
        ("latest_features_export", "medallion.export"),
    ):
        t.wrap(medallion, fn, name, on_result=rows)
    t.wrap(incremental, "incremental_gold_update", "incremental.gold", on_result=rows)
    for fn in ("append", "merge", "overwrite", "merge_gated"):
        t.wrap(ManagedTable, fn, "managed_table.commit")
    t.wrap(dq_checks, "run_checks", "dq")
    t.wrap(training, "train_churn_model", "train",
           on_result=lambda s, m: s.counts.__setitem__("rows", m.n_rows))
    t.wrap(feature_store.LatestFeaturesClient, "__init__", "feature_store.load", spark=False)

    def hit(s, out):
        s.counts["hit"] = 0 if out is None else 1

    t.wrap(feature_store.PredictionService, "predict", "feature_store.predict",
           spark=False, on_result=hit)
    t.wrap(serving_api.ChurnApi, "predict", "api.predict", spark=False)
    t.wrap(tables, "load_table", "tables.load")


# ------------------------------------------------------------ chain


def _chain(run: Run, raw_dir: str, lake: str) -> dict:
    """bronze -> silver -> gold -> labels -> snapshot -> export -> train."""
    spark, as_of = run.spark, gen.AS_OF.isoformat()
    p = {t: os.path.join(lake, t) for t in TABLES}
    calls = [
        ("bronze", lambda: medallion.bronze_ingest(spark, raw_dir, p["bronze"], p["audit"], "bronze-0")),
        ("silver", lambda: medallion.silver_publish(
            spark, p["bronze"], p["silver"], os.path.join(lake, "quarantine"), "silver-0")),
        ("gold", lambda: medallion.gold_features(spark, p["silver"], p["gold"], as_of, "gold-0")),
        ("labels", lambda: medallion.label_snapshot(spark, p["silver"], p["labels"], as_of, "labels-0")),
        ("snapshot", lambda: medallion.training_snapshot_publish(
            spark, p["gold"], p["labels"], p["snapshot"], as_of, "snapshot-0")),
        ("export", lambda: medallion.latest_features_export(
            spark, p["gold"], os.path.join(lake, "export"))),
        ("train", lambda: training.train_churn_model(
            ManagedTable(spark, p["snapshot"], keys=["customer_id", "as_of_date"]).read())),
    ]
    return {name: run.op(fn, f"medallion {name}") for name, fn in calls}


def _check_chain(run: Run, truth: gen.Lake, out: dict, lake: str, orc: oracle_mod.Oracle) -> None:
    run.check(out["bronze"].rows_published == truth.bronze_rows, "bronze rows")
    run.check(out["silver"].rows_published == truth.silver_rows, "silver rows")
    run.check(out["silver"].rows_rejected == truth.silver_rejects, "silver rejects")
    served = truth.customers_on_or_before(gen.AS_OF)
    run.check(out["gold"].rows_published == len(served), "gold rows")
    gold = ManagedTable(run.spark, os.path.join(lake, "gold"), keys=[]).read().toPandas()
    keys = pd.DataFrame({"customer_id": sorted(served), "as_of_date": gen.AS_OF})
    run.check(
        oracle_mod.frame_mismatches(gold, orc.features(keys), ["customer_id", "as_of_date"],
                                    oracle_mod.FEATURE_COLS) == 0,
        "gold features vs oracle",
    )
    labels = ManagedTable(run.spark, os.path.join(lake, "labels"), keys=[]).read().toPandas()
    want = orc.labels(gen.AS_OF, gen.HORIZON_DAYS)
    run.check(oracle_mod.frame_mismatches(labels, want, ["customer_id"], ["churn_label"]) == 0,
              "labels vs oracle")
    run.check(out["labels"].rows_published == len(want), "label rows")
    run.check(out["snapshot"].rows_published == len(want), "snapshot rows")
    run.check(out["export"].rows_published == len(served), "export rows")
    run.check(out["train"].n_rows == len(want), "train rows")


def _lake_accounting(lake: str, raw_bytes: int, since: dict[str, int]) -> dict[str, float]:
    """Commits and bytes the tables' logs record since ``since``."""
    commits = nbytes = ckpts = 0
    for t in TABLES:
        c, b = delta_log_adds(os.path.join(lake, t), since.get(t, 0))
        commits, nbytes = commits + c, nbytes + b
        ckpts += checkpoints(os.path.join(lake, t))
    return {
        "managed_table.commits": commits,
        "managed_table.bytes_written": nbytes,
        "managed_table.write_amp": nbytes / raw_bytes,
        "managed_table.checkpoints": ckpts,
    }


# ----------------------------------------------------- daily refresh


def _changed_keys(spark, batch_path: str):
    return (
        spark.read.parquet(batch_path)
        .select(F.lower(F.trim("customer_id")).alias("customer_id"))
        .where(F.col("customer_id").isNotNull())
        .distinct()
    )


def _refresh(run: Run, lake: str, batch: gen.Batch, run_tag: str, model, fv: str):
    """One landing taken to a servable state; returns the new API."""
    spark, day = run.spark, batch.day.isoformat()
    p = {t: os.path.join(lake, t) for t in TABLES}
    raw_dir = os.path.dirname(batch.path)
    res = {}
    res["bronze"] = run.op(lambda: medallion.bronze_ingest(
        spark, raw_dir, p["bronze"], p["audit"], f"bronze-{run_tag}"), "refresh bronze")
    res["silver"] = run.op(lambda: medallion.silver_publish(
        spark, p["bronze"], p["silver"], os.path.join(lake, "quarantine"), f"silver-{run_tag}"),
        "refresh silver")
    res["gold"] = run.op(lambda: incremental.incremental_gold_update(
        spark, p["silver"], p["gold"], _changed_keys(spark, batch.path), day, f"gold-{run_tag}"),
        "refresh incremental gold")
    res["export"] = run.op(lambda: medallion.latest_features_export(
        spark, p["gold"], os.path.join(lake, "export")), "refresh export")
    client = run.op(lambda: feature_store.LatestFeaturesClient(os.path.join(lake, "export")),
                    "feature client load")
    svc = feature_store.PredictionService(client, model, expected_feature_version=fv)
    return serving_api.ChurnApi(svc, api_key=API_KEY), res


def _land(run: Run, lake: str, k: int, batch: gen.Batch, stream, model, fv: str) -> dict:
    """Land one batch, take it to a servable state, then serve its burst."""
    run.tracer.trace_id = f"landing-{k}"
    t0 = time.perf_counter()
    api, res = _refresh(run, lake, batch, str(k), model, fv)
    refresh_s = time.perf_counter() - t0
    headers = {serving_api.API_KEY_HEADER: API_KEY}
    got, latencies = [], []
    b0 = time.perf_counter()
    for payload, _, _ in stream:
        r0 = time.perf_counter_ns()
        got.append(api.predict(payload, headers))
        latencies.append(time.perf_counter_ns() - r0)
    return {"stages": res, "refresh_s": refresh_s, "responses": got,
            "latencies": latencies, "burst_s": time.perf_counter() - b0}


def _replay(run: Run, lake: str, raw_dir: str, tag: str):
    run.tracer.trace_id = f"replay-{tag}"
    res = run.op(lambda: medallion.bronze_ingest(
        run.spark, raw_dir, os.path.join(lake, "bronze"), os.path.join(lake, "audit"),
        f"bronze-replay-{tag}"), f"replay {tag}")
    run.check(res.skipped and res.rows_published == 0, f"replayed {tag} file skipped")


def daily_refresh(run: Run) -> None:
    t0 = time.perf_counter()
    raw = os.path.join(run.work, "raw")
    truth = gen.history(raw, run.seed, HISTORY_ORDERS, HISTORY_CUSTOMERS)
    history_file = truth.batches[0].path
    cold_truth = copy.deepcopy(truth)
    batches, streams, expect = [], [], []
    for k in range(1, LANDINGS + 1):
        batches.append(gen.daily_batch(truth, raw, k, BATCH_ROWS))
        streams.append(gen.requests(truth, REQUESTS_PER_LANDING))
        expect.append((truth.silver_rows, truth.silver_rejects))
    replay = os.path.join(run.work, "replay", os.path.basename(batches[0].path))
    os.makedirs(os.path.dirname(replay))
    shutil.copy2(batches[0].path, replay)  # same name, size and mtime
    run.setup_parts.append(time.perf_counter() - t0)

    # The base lake: the nightly full rebuild, bronze -> ... -> train.
    lake = os.path.join(run.work, "lake")
    run.tracer.trace_id = "cold"
    w0, t0 = time.time(), time.perf_counter()
    base = _chain(run, os.path.dirname(history_file), lake)
    run.cold_window = ((w0, time.time()), (t0, time.perf_counter()))
    run.setup_parts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    orc = oracle_mod.Oracle([history_file], os.path.join(run.work, "tmp"))
    _check_chain(run, cold_truth, base, lake, orc)
    orc.close()
    run.extra["cold_space_amp"] = tree_bytes(lake) / truth.batches[0].nbytes
    cold_acct = _lake_accounting(lake, truth.batches[0].nbytes, {})
    run.cold_layers = {f"cold.{k}": v for k, v in cold_acct.items()}
    run.extra["check_s"] = time.perf_counter() - t0

    model = base["train"]
    fv = Contract.load(
        os.path.join(run.root, "contracts", "gold_customer_features.v1.json")
    ).contract_hash
    # The first landing, and a replay of the history file, warm the
    # refresh and skip paths; both are set-up.
    t0 = time.perf_counter()
    landed = [_land(run, lake, 1, batches[0], streams[0], model, fv)]
    _replay(run, lake, os.path.dirname(history_file), "history")
    run.setup_parts.append(time.perf_counter() - t0)

    since = {t: delta_log_version(os.path.join(lake, t)) + 1 for t in TABLES}
    w0, t_unit = time.time(), time.perf_counter()
    for k in range(2, LANDINGS + 1):
        landed.append(_land(run, lake, k, batches[k - 1], streams[k - 1], model, fv))
        if k == 2:
            _replay(run, lake, os.path.dirname(replay), "landing")
    run.units.append(time.perf_counter() - t_unit)
    run.windows.append((w0, time.time()))
    run.pwindows.append((t_unit, time.perf_counter()))
    timed = landed[1:]
    run.steps.append([x["refresh_s"] for x in timed])

    # ---- checks (untimed)
    for k, (x, (silver_rows, rejects)) in enumerate(zip(landed, expect), 1):
        res = x["stages"]
        run.check(res["bronze"].rows_published == batches[k - 1].rows, f"landing {k} bronze rows")
        run.check(res["silver"].rows_published == silver_rows, f"landing {k} silver rows")
        run.check(res["silver"].rows_rejected == rejects, f"landing {k} silver rejects")
        run.check(res["gold"].rows_published == len(batches[k - 1].customers), f"landing {k} gold rows")
    orc = oracle_mod.Oracle([b.path for b in truth.batches], os.path.join(run.work, "tmp"))
    run.check(orc.silver_rows() == truth.silver_rows, "oracle silver rows vs generator")
    keys = [(c, gen.AS_OF) for c in sorted(truth.customers_on_or_before(gen.AS_OF))]
    keys += [(c, b.day) for b in batches for c in sorted(b.customers)]
    want = orc.features(pd.DataFrame(keys, columns=["customer_id", "as_of_date"]))
    gold = ManagedTable(run.spark, os.path.join(lake, "gold"), keys=[]).read().toPandas()
    run.check(oracle_mod.frame_mismatches(gold, want, ["customer_id", "as_of_date"],
                                          oracle_mod.FEATURE_COLS) == 0,
              "incremental gold vs full recompute")
    _check_responses(run, [x["responses"] for x in landed], streams, batches, want, model, fv)
    orc.close()

    lat_us = sorted(ns / 1000.0 for x in timed for ns in x["latencies"])
    n = len(lat_us)
    statuses = [status for x in timed for status, _ in x["responses"]]
    hits, misses = statuses.count(200), statuses.count(404)
    run.extra.update({
        "refresh_p50_s": statistics.median(run.steps[0]),
        "serve_p50_us": lat_us[n // 2],
        "serve_p99_us": lat_us[min(n - 1, int(n * 0.99))],
        "serve_rps": n / sum(x["burst_s"] for x in timed),
        "serve_requests": n,
        "space_amp": tree_bytes(lake) / sum(b.nbytes for b in truth.batches),
    })
    acct = _lake_accounting(lake, sum(b.nbytes for b in batches[1:]), since)
    acct["feature_store.hit_ratio"] = hits / (hits + misses)
    run.layer_units.append(acct)


def _check_responses(run, responses, streams, batches, want: pd.DataFrame, model, fv) -> None:
    """Every response has its expected status; every 200 carries the
    features of the customer's newest exported snapshot."""
    feats = {(r.customer_id, pd.Timestamp(r.as_of_date).date()): r for r in want.itertuples()}
    latest = {c: d for c, d in feats if d == gen.AS_OF}
    bad_status = bad_body = 0
    for got, stream, batch in zip(responses, streams, batches):
        for c in batch.customers:
            if (c, batch.day) in feats:
                latest[c] = batch.day
        for (status, body), (_, want_status, cid) in zip(got, stream):
            if status != want_status:
                bad_status += 1
            elif status == 200:
                row = feats[(cid, latest[cid])]
                proba = round(model.predict_proba(
                    {c: getattr(row, c) for c in oracle_mod.FEATURE_COLS}), 6)
                if (body["as_of_date"] != latest[cid].isoformat() or body["feature_version"] != fv
                        or abs(body["churn_probability"] - proba) > 1e-6):
                    bad_body += 1
    total = sum(len(got) for got in responses)
    run.attempted += total
    run.failed += bad_status + bad_body
    if bad_status or bad_body:
        run.problems.append(f"responses: {bad_status} wrong status, {bad_body} wrong body of {total}")


# --------------------------------------------------------- query mix


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_mix(run: Run) -> None:
    import duckdb
    import numpy as np

    from ecom_churn_lakehouse_spark import registry

    t0 = time.perf_counter()
    star = os.path.join(run.work, "star")
    # The tables stand in for a fixed fixture: the same on every run, so
    # entry costs do not swing with the seed; the seed orders the entries.
    gen.star_schema(star, STAR_SEED, QUERY_MIX_SF)
    order = list(QUERY_MIX)
    np.random.default_rng(run.seed).shuffle(order)
    qs, oracles = registry.queries(), registry.oracle_sql()
    run.setup_parts.append(time.perf_counter() - t0)

    # Correctness pass, untimed; it also warms every entry's code path.
    t0 = time.perf_counter()
    check = _check_oracle_module(run.root)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(run.work, 'tmp')}'")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star}/{t}.parquet'")
    for name in order:
        run.tracer.trace_id = f"oracle-{name}"
        t1 = time.perf_counter()
        spark_pdf = run.op(lambda: qs[name](run.spark, star).toPandas(), f"{name} collect")
        t2 = time.perf_counter()
        duck_pdf = con.sql(oracles[name]).df()
        run.extra[f"oracle_pass_s.{name}"] = [round(t2 - t1, 3), round(time.perf_counter() - t2, 3)]
        problems = check.compare(name, spark_pdf, duck_pdf)
        run.check(not problems, f"{name} vs oracle: {problems}")
        run.extra[f"rows.{name}"] = len(spark_pdf)
    con.close()
    run.setup_parts.append(time.perf_counter() - t0)

    # One untimed pass more warms the noop path, then a fixed number of
    # passes for the seconds asked for: entries keep speeding up from
    # pass to pass, so a pass count that followed the clock would leave
    # a slow run less warm. Each entry is taken at its median over the
    # timed passes.
    t0 = time.perf_counter()
    run.tracer.trace_id = "warm"
    _query_pass(run, qs, star, order)
    run.setup_parts.append(time.perf_counter() - t0)
    for i in range(max(1, round(run.seconds / PASS_S))):
        run.tracer.trace_id = f"pass-{i}"
        w0, t_unit = time.time(), time.perf_counter()
        steps = _query_pass(run, qs, star, order)
        run.units.append(time.perf_counter() - t_unit)
        run.windows.append((w0, time.time()))
        run.pwindows.append((t_unit, time.perf_counter()))
        run.steps.append(steps)


def _query_pass(run: Run, qs: dict, star: str, order: list[str]) -> list[float]:
    """Build every entry and force it with the noop sink; entry times."""
    steps = []
    for name in order:
        t0 = time.perf_counter()
        with run.tracer.span(f"q.{name}.build"):
            df = run.op(lambda: qs[name](run.spark, star), f"{name} build")
        with run.tracer.span(f"q.{name}.exec"):
            run.op(lambda: df.write.format("noop").mode("overwrite").save(), f"{name} exec")
        steps.append(time.perf_counter() - t0)
    return steps


WORKLOADS = {"daily_refresh": daily_refresh, "query_mix": query_mix}


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
