"""Lakehouse benchmark: one command per workload, seeded, self-checking.

    python3 perfbench/run.py --workload daily_refresh --seed 1 --seconds 18 --trace 0

Workloads (see ``workloads.py`` and ``layers.json``):

- ``daily_refresh``: set-up builds the base lake with the nightly full
  rebuild (bronze -> ... -> train); the timed section lands small daily
  batches, takes each to a servable state and follows it with a
  closed-loop burst of predict requests;
- ``query_mix``: registry entries forced with the ``noop`` sink.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of ``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer
metrics, taken from spans around the program's public functions, Spark
job groups and an event log that only traced runs enable. The line
before it describes the run (host, workload figures, failures); traced
runs also keep their spans under ``.perfbench/``.

The program is imported from the checkout this file sits in; the
command exits non-zero without a result when it is missing, or when any
output disagrees with the benchmark's own ground truth or oracles.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("daily_refresh", "query_mix")
DRIVER_HEAP = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_cpus() -> int:
    """Spark task threads: half the CPUs this process may use. The rest
    is left to the JVM's compiler and GC threads, the Python driver and
    workers, and the host's other tenants, so that a run measures the
    program rather than the scheduler (on 4 CPUs the query mix also runs
    faster with 2 task threads than with 4)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _environment(work: str) -> None:
    """Process environment set before the JVM starts: temp files stay in
    the work dir and Python workers can import the package."""
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The short-lived JVM that spark-submit starts to build the driver's
    # command line would otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # A fixed, pre-touched 2 GiB driver heap: the JVM does not resize it
    # between runs, so peak memory and GC work repeat, and the run stays
    # small on a shared host.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def _session(work: str, trace: bool):
    from ecom_churn_lakehouse_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _window_metrics(tracer, events, window, pwindow) -> dict[str, float]:
    """Per-layer figures of the spans that started inside one window."""
    (w0, w1), (p0, p1) = window, pwindow
    spans = [s for s in tracer.spans if p0 <= s.start <= p1]
    jobs = events.jobs_in(w0, w1)
    busy = events.busy_seconds(w0, w1)
    m: dict[str, float] = {
        "spark.jobs": len(jobs),
        "spark.busy_s": busy,
        "spark.idle_s": (w1 - w0) - busy,
        "spark.shuffle_bytes": sum(events.job_shuffle.get(j, 0) for j in jobs),
        "trace.spans": len(spans),
        "trace.overhead_s": sum(s.overhead_s for s in spans),
    }

    def add(key, value):
        m[key] = m.get(key, 0) + value

    predict_us = []
    kids = tracer._children()
    for s in spans:
        sub = tracer.subtree_jobs(s, kids)
        dur = s.end - s.start
        shuffle = sum(events.job_shuffle.get(j, 0) for j in sub)
        add(f"self.{s.name}_s", tracer.self_seconds(s, kids))
        if s.name.startswith("medallion.") or s.name in ("incremental.gold", "train", "dq"):
            add(f"{s.name}.s", dur)
            add(f"{s.name}.jobs", len(sub))
            add(f"{s.name}.shuffle_bytes", shuffle)
            if "rows" in s.counts:
                add(f"{s.name}.rows", s.counts["rows"])
        elif s.name == "managed_table.commit":
            add("managed_table.commit_s", dur)
            add("managed_table.commit_jobs", len(sub))
        elif s.name == "feature_store.load":
            add("feature_store.load_s", dur)
        elif s.name == "feature_store.predict":
            predict_us.append(dur * 1e6)
        elif s.name == "tables.load":
            add("tables.load_calls", 1)
            add("tables.load_jobs", len(sub))
        elif s.name.startswith("q."):
            _, entry, phase = s.name.split(".")
            add(f"q.{entry}.{phase}_s", dur)
            add(f"q.{entry}.{phase}_jobs", len(sub))
            add(f"q.{entry}.shuffle_bytes", shuffle)
    if predict_us:
        m["feature_store.predict_p50_us"] = statistics.median(predict_us)
    return m


def _layer_metrics(run, events) -> dict[str, float]:
    """Per-layer figures: medians over the timed units, plus the base
    build inside set-up under ``cold.``."""
    per_unit = []
    for u, (w, p) in enumerate(zip(run.windows, run.pwindows)):
        m = _window_metrics(run.tracer, events, w, p)
        if u < len(run.layer_units):
            m.update(run.layer_units[u])
        per_unit.append(m)
    keys = sorted({k for m in per_unit for k in m})
    out = {k: statistics.median(m.get(k, 0) for m in per_unit) for k in keys}
    if run.cold_window is not None:
        cold = _window_metrics(run.tracer, events, *run.cold_window)
        out.update({f"cold.{k}": v for k, v in cold.items()})
        out.update(run.cold_layers)
    return out


def _bench(args, bench: dict, work: str) -> int:
    _environment(work)
    sys.path.insert(0, ROOT)
    t_setup = time.perf_counter()
    spark = _session(work, bool(args.trace))
    session_s = time.perf_counter() - t_setup

    import workloads
    from tracing import EventLog, Tracer, peak_rss_mb
    from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    run = workloads.Run(spark, tracer, work, args.seed, args.seconds, ROOT)
    crashed = False
    try:
        workloads.instrument(tracer)
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        crashed = True
        if not run.problems:
            run.problems.append(traceback.format_exc())
            run.attempted += 1
            run.failed += 1
    finally:
        rss = peak_rss_mb([os.getpid(), _jvm_pid() or os.getpid()])
        tracer.unpatch()
        _stop(spark)

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "spark_cpus": spark_cpus(), "loadavg": os.getloadavg(),
        "backend": ManagedTable.BACKEND, "units": len(run.units),
        "session_s": session_s, "setup_parts_s": run.setup_parts,
        "error_ratio": run.failed / max(run.attempted, 1),
        "steps_s": [[round(x, 3) for x in s] for s in run.steps],
        **run.extra,
    }
    for p in run.problems:
        print(f"FAIL {p}", file=sys.stderr)
    if crashed or not run.units:
        print("# perfbench " + json.dumps(info, default=str))
        return 1

    steps = run.step_medians()
    e2e = {
        "setup_s": session_s + sum(run.setup_parts),
        "pipeline_s": sum(steps) + statistics.median(
            u - sum(s) for u, s in zip(run.units, run.steps)),
        "step_p50_s": statistics.median(steps),
        "step_geomean_s": workloads.geomean(steps),
        "peak_rss_mb": rss,
    }
    info.update(e2e)
    if args.trace:
        layers = _layer_metrics(run, EventLog.read(os.path.join(work, "events")))
        info["layers"] = layers
        tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print("# perfbench " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if run.failed == 0 else 1


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ecom_churn_lakehouse_spark", "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    # A terminated run still stops its JVM and removes its work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _bench(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
