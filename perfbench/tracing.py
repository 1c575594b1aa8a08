"""Outside-in accounting: spans, Spark job counts, event-log shuffle bytes,
table-log write bytes and process memory.

Spans are recorded by wrapping the program's public functions from the
benchmark's side. A function is patched where callers look it up: a
module that did ``from x import f`` holds its own binding of ``f``, so
every module whose attribute is the original function is patched, not
just the defining module.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0
    #: Spark jobs launched while this span was innermost
    job_ids: list[int] = field(default_factory=list)
    #: result-derived counts (rows published, cache hits, ...)
    counts: dict[str, float] = field(default_factory=dict)
    #: whether this span owns a Spark job group
    spark: bool = True
    #: the tracer's own bookkeeping time for this span
    overhead_s: float = 0.0


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    patches nothing, so untraced runs execute the program unchanged."""

    def __init__(self, spark_context, enabled: bool):
        self.enabled = enabled
        self._sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.trace_id = "setup"

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = True):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.trace_id, parent.id if parent else None, 0.0, spark=spark)
        self.spans.append(s)
        self._stack.append(s)
        if spark:
            self._sc.setJobGroup(f"span-{s.id}", name)
        s.start = time.perf_counter()
        s.overhead_s = s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if spark:
                tracker = self._sc.statusTracker()
                s.job_ids = sorted(tracker.getJobIdsForGroup(f"span-{s.id}"))
            self._stack.pop()
            if spark:
                outer = next((p for p in reversed(self._stack) if p.spark), None)
                if outer is not None:
                    self._sc.setJobGroup(f"span-{outer.id}", outer.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            s.overhead_s += time.perf_counter() - s.end

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        spark: bool = True,
        on_result: Callable[[Span, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper, and every
        module-level binding of the same function object."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            # Re-entrant calls (merge -> overwrite) stay in the outer span.
            if tracer._stack and tracer._stack[-1].name == name:
                return original(*args, **kwargs)
            with tracer.span(name, spark=spark) as s:
                out = original(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("ecom_churn_lakehouse_spark") and m is not owner
                and getattr(m, attr, None) is original
            ]
        for t in targets:
            self._patches.append((t, attr, getattr(t, attr)))
            setattr(t, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ---------------------------------------------------------- reports

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_seconds(self, span: Span, kids: dict[int, list[Span]] | None = None) -> float:
        """Duration minus the part covered by direct children."""
        kids = self._children() if kids is None else kids
        covered = sum(c.end - c.start for c in kids.get(span.id, ()))
        return (span.end - span.start) - covered

    def subtree_jobs(self, span: Span, kids: dict[int, list[Span]] | None = None) -> list[int]:
        kids = self._children() if kids is None else kids
        out = list(span.job_ids)
        for c in kids.get(span.id, ()):
            out += self.subtree_jobs(c, kids)
        return out

    def dump(self, path: str) -> None:
        kids = self._children()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "trace": s.trace, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": self.self_seconds(s, kids),
                    "jobs": s.job_ids, **s.counts,
                }) + "\n")


# ------------------------------------------------------------ event log


@dataclass
class EventLog:
    """Job timings and shuffle bytes read back from Spark's event log."""

    job_window: dict[int, tuple[float, float]]
    #: shuffle bytes written, per job (each executed stage counted once)
    job_shuffle: dict[int, int]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = sorted(
            os.path.join(d, f) for d, _, names in os.walk(log_dir) for f in names
            if not f.startswith(".")
        )
        job_start: dict[int, float] = {}
        job_window: dict[int, tuple[float, float]] = {}
        stage_job: dict[int, int] = {}
        stage_bytes: dict[int, int] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        job_start[jid] = ev["Submission Time"] / 1000.0
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        jid = ev["Job ID"]
                        if jid in job_start:
                            job_window[jid] = (job_start[jid], ev["Completion Time"] / 1000.0)
                    elif kind == "SparkListenerTaskEnd":
                        m = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                        sid = ev["Stage ID"]
                        stage_bytes[sid] = stage_bytes.get(sid, 0) + int(m.get("Shuffle Bytes Written", 0))
        job_shuffle: dict[int, int] = {}
        for sid, b in stage_bytes.items():
            jid = stage_job.get(sid)
            if jid is not None:
                job_shuffle[jid] = job_shuffle.get(jid, 0) + b
        return cls(job_window, job_shuffle)

    def busy_seconds(self, t0: float, t1: float) -> float:
        """Wall time in [t0, t1] (epoch seconds) with >= 1 job running."""
        iv = sorted((max(a, t0), min(b, t1)) for a, b in self.job_window.values() if b > t0 and a < t1)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        return [j for j, (a, _) in self.job_window.items() if t0 <= a <= t1]


# ------------------------------------------------------------- storage


def delta_log_adds(table_path: str, since_version: int = 0) -> tuple[int, int]:
    """(commits, bytes) of ``add`` actions in ``_delta_log/*.json`` with
    version >= ``since_version``."""
    commits = nbytes = 0
    for path in glob.glob(os.path.join(table_path, "_delta_log", "*.json")):
        version = int(os.path.basename(path).split(".")[0])
        if version < since_version:
            continue
        commits += 1
        with open(path) as f:
            for line in f:
                action = json.loads(line)
                if "add" in action:
                    nbytes += int(action["add"]["size"])
    return commits, nbytes


def delta_log_version(table_path: str) -> int:
    """Highest committed version, -1 for no log."""
    files = glob.glob(os.path.join(table_path, "_delta_log", "*.json"))
    return max((int(os.path.basename(p).split(".")[0]) for p in files), default=-1)


def checkpoints(table_path: str) -> int:
    """Log checkpoints written; 0 when ``_last_checkpoint`` is absent."""
    log = os.path.join(table_path, "_delta_log")
    if not os.path.exists(os.path.join(log, "_last_checkpoint")):
        return 0
    return len(glob.glob(os.path.join(log, "*.checkpoint.parquet")))


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -------------------------------------------------------------- memory


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
