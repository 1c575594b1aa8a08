"""Mutable keyed tables: Delta when available, parquet emulation otherwise.

Re-expresses the reference's table layer (SURVEY.md §2.1): append sinks
(S4/S5), overwrite (S6), keyed MERGE upsert (S7,
``orders_bronze_to_silver.py:184-195`` et al.), existence probe (S9).

This environment has no delta-spark, so the default backend emulates
the semantics over plain parquet:

- ``merge`` = source-wins upsert: new table = source ∪ (current
  ⟕anti source on keys). Equivalent to Delta's
  ``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` for sources
  that are unique per key (enforced). ``merge(order_by=)`` takes a
  source that repeats keys: the first row per key under ``order_by``
  is the upsert, ranked inside the merge's own per-key window, so a
  W1 dedup costs no shuffle of its own.
- Every write is ONE Spark action: the staged snapshot write. What the
  caller needs to know rides that action as a ``df.observe``: source,
  upsert and tombstone rows, matched (updated / deleted) target rows,
  duplicate merge keys and the ``checks=`` gate counts. A verdict on
  those numbers runs after staging and before the claim, so a failing
  gate or a non-unique source abandons the staged dir unpublished.
  Each commit's ``commitInfo`` carries Delta-style ``operation`` and
  ``operationMetrics`` (rows from the observation and the parquet
  footers, files and bytes from the add actions), returned to the
  caller as a :class:`Commit` and listed by ``history()``.
- ``append`` is add-only, as in Delta: it stages only the incoming
  rows and hard-links the base snapshot's data files into the new
  snapshot dir under the same relative paths, so every snapshot stays a
  self-contained dir for ``read()``, time travel and the vacuum while
  no existing row is rewritten. ``append(txn_id=)`` records a Delta
  ``txn`` action, so a writer can make ingestion idempotent from the
  table's own log (``transactions()``).
- Each snapshot records its scan schema (``_schema.json``) when it is
  staged, so reads and commits never run a schema-inference job.
- One commit log, in the Delta transaction-log format:
  ``_delta_log/{v:020d}.json``. A writer stages its snapshot dir
  (``v-{id}``), writes the whole action file for version ``base + 1``
  (commitInfo naming that dir, protocol / metaData, txn, remove every
  previous file, add every new one) to a temp file and hard-links it
  into place. ``os.link`` fails if the version exists, so the claim is
  a put-if-absent with its content already written. A writer that
  loses re-stages against the winner and retries (optimistic
  concurrency, serializable — proven by the racing-MERGE test in
  tests/test_managed_table.py). Readers scan the dir the newest
  commitInfo names; ``read(version)`` is time travel over log
  versions; after claiming ``v`` the writer deletes the dir of commit
  ``v - 2`` (keep-last-2).

On a production cluster with delta-spark installed, ``HAVE_DELTA``
routes every operation to the real thing (ACID log, data skipping,
OPTIMIZE); the emulation keeps semantics testable anywhere.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ecom_churn_lakehouse_spark.dq.checks import (
    DQReport,
    check_aggregates,
    report_from_metrics,
    run_checks,
)
from ecom_churn_lakehouse_spark.operators.windows import dedup_top1
from ecom_churn_lakehouse_spark.session import HAVE_DELTA

__all__ = ["Commit", "ManagedTable", "MergeBlocked"]

#: The commit log: one ``{v:020d}.json`` action file per version.
_LOG = "_delta_log"
#: Delta-protocol checkpoint pointer file (literal name per spec).
_LAST_CKPT = "_last_checkpoint"
#: Scan schema of a snapshot, written beside its data files (a leading
#: underscore keeps it out of Spark's file listing).
_SCHEMA = "_schema.json"


@dataclass(frozen=True)
class Commit:
    """What one write published: its log version, the Delta operation
    name (WRITE / APPEND / MERGE / OPTIMIZE), its ``operationMetrics``
    and, for a merge, the gate report over the upserted rows."""

    version: int
    operation: str
    metrics: dict[str, int]
    report: DQReport | None = None


class MergeBlocked(ValueError):
    """A merge verdict refused the staged snapshot (non-unique source
    or a failing critical gate); nothing was published. ``report``
    holds the gate results."""

    def __init__(self, message: str, report: DQReport):
        super().__init__(message)
        self.report = report


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable, as Spark
    reports any parquet scan."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _scan_schema(df: DataFrame, partition_by: list[str] | None) -> T.StructType:
    """The schema a parquet scan of ``df``'s written snapshot reports:
    data columns first, then partition columns, all nullable."""
    parts = set(partition_by or [])
    fields = [f for f in df.schema.fields if f.name not in parts]
    fields += [T.StructField(c, df.schema[c].dataType) for c in partition_by or []]
    return _nullable(T.StructType(fields))


def _data_files(snapshot: str) -> list[str]:
    """The data files of a snapshot dir, relative to it, sorted."""
    return sorted(
        os.path.relpath(os.path.join(root, f), snapshot)
        for root, _, files in os.walk(snapshot)
        for f in files
        if f.endswith(".parquet")
    )


class ManagedTable:
    """A keyed, mutable table at a filesystem path."""

    #: which commit-protocol implementation this process runs:
    #: "delta" (real Delta protocol via delta-spark) or
    #: "delta-log-parquet" (the emulation) — recorded so CI output
    #: states which backend the managed-table suite exercised.
    BACKEND = "delta" if HAVE_DELTA else "delta-log-parquet"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        checkpoint_interval: int = 10,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        #: Delta-protocol checkpointing cadence: every Nth commit also
        #: writes ``_delta_log/{v:020d}.checkpoint.parquet`` + the
        #: ``_last_checkpoint`` pointer (protocol default 10), so log
        #: replay is O(commits since checkpoint), not O(all commits).
        self.checkpoint_interval = int(checkpoint_interval)

    # ------------------------------------------------------------ probes

    def exists(self) -> bool:
        """S9 existence probe (DeltaTable.isDeltaTable analogue)."""
        if HAVE_DELTA:
            from delta.tables import DeltaTable  # type: ignore

            return DeltaTable.isDeltaTable(self.spark, self.path)
        return self._latest_version() >= 0

    # ------------------------------------------------------------- reads

    def _log_versions(self) -> list[int]:
        """Versions of the JSON commits in the log, oldest first."""
        ldir = os.path.join(self.path, _LOG)
        if not os.path.isdir(ldir):
            return []
        return sorted(int(fn.split(".")[0]) for fn in os.listdir(ldir) if fn.endswith(".json"))

    def _latest_version(self) -> int:
        """The newest committed version, -1 for a table with no commit."""
        return max(self._log_versions(), default=-1)

    def _snapshot_dir(self, version: int) -> str | None:
        """The snapshot dir commit ``version``'s commitInfo (its first
        action) names, or None when the log holds no such JSON commit."""
        if version < 0:
            return None
        try:
            with open(os.path.join(self.path, _LOG, f"{version:020d}.json")) as f:
                info = json.loads(f.readline())["commitInfo"]
        except FileNotFoundError:
            return None
        return os.path.join(self.path, info["snapshotDir"])

    def versions(self) -> list[int]:
        """Log versions whose snapshot is still on disk, oldest→newest
        (≤2 under keep-last-2): what ``read(version)`` can travel to."""
        dirs = ((v, self._snapshot_dir(v)) for v in self._log_versions())
        return [v for v, d in dirs if d is not None and os.path.isdir(d)]

    def read(self, version: int | None = None) -> DataFrame:
        """Read the newest commit, or a retained log version (time travel).

        With delta-spark, ``version`` maps to ``versionAsOf``; the
        emulation scans the snapshot dir that commit's commitInfo names
        (only the previous commit survives vacuum — a bounded,
        Delta-retention-like window).
        """
        if HAVE_DELTA:
            reader = self.spark.read.format("delta")
            if version is not None:
                reader = reader.option("versionAsOf", version)
            return reader.load(self.path)
        snapshot = self._snapshot_dir(
            self._latest_version() if version is None else version
        )
        if snapshot is None or not os.path.isdir(snapshot):
            if version is None:
                raise FileNotFoundError(f"no committed snapshot at {self.path}")
            raise ValueError(
                f"version {version!r} not retained; available: {self.versions()}"
            )
        return self._scan(snapshot)

    @staticmethod
    def _recorded_schema(snapshot: str) -> T.StructType:
        with open(os.path.join(snapshot, _SCHEMA)) as f:
            return T.StructType.fromJson(json.load(f))

    def _scan(self, snapshot: str) -> DataFrame:
        """Scan a snapshot dir with the schema recorded when it was
        staged — no inference job."""
        return self.spark.read.schema(self._recorded_schema(snapshot)).parquet(snapshot)

    # ------------------------------------------------------------ writes
    #
    # Multi-writer optimistic concurrency over the one commit log. A
    # writer resolves its base (the newest version and the snapshot dir
    # it names), stages a new snapshot dir under its final name, and
    # claims version base + 1 by hard-linking a fully written action
    # file to ``_delta_log/{base + 1:020d}.json`` — the Delta protocol's
    # put-if-absent commit. Exactly one racer wins a version; a loser
    # restages against the winner (or, for a blind overwrite, re-claims
    # its staged dir) at the next version. Nothing reads or deletes a
    # dir that no commit names, so a racer's staged write is safe from
    # the winner's vacuum, and a crash before the claim leaves only an
    # unnamed dir.

    def _stage(self, df: DataFrame, partition_by: list[str] | None) -> str:
        """Write ``df`` as a new snapshot dir under its final name (the
        one Spark action of a commit) and record the scan schema beside
        the data files. Unpublished until a commit names it."""
        target = os.path.join(self.path, f"v-{uuid.uuid4().hex[:12]}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        with open(os.path.join(target, _SCHEMA), "w") as f:
            f.write(_scan_schema(df, partition_by).json())
        return target

    def _try_commit(
        self,
        version: int,
        snapshot: str,
        partition_by: list[str] | None,
        commit_info: dict,
        txn_id: str | None = None,
    ) -> bool:
        """Claim log ``version`` for ``snapshot``: write the whole action
        file to a temp file and hard-link it to ``{version:020d}.json``.
        ``os.link`` fails if the version exists, so exactly one writer
        wins it and no reader ever sees a partial file. Returns False,
        with nothing changed, when another commit holds the version.

        Each commit publishes a self-contained snapshot dir, so its
        actions are remove(every previously active file) + add(every
        file of the new dir) — the shape delta-spark writes for an
        overwrite. An append's dir holds hard links to the base
        snapshot's files plus the new rows' files; the links are listed
        as adds under their new paths, like every other file. The MERGE
        / APPEND semantics live in how the snapshot was BUILT, and
        ``commit_info`` (operation, parameters, metrics) names the
        operation that built it; the commitInfo also names the snapshot
        dir, which readers scan (an empty partitioned write has no data
        file to name it). ``txn_id`` adds a ``txn`` action (appId =
        ``txn_id``, version = this commit). The metaData schema is the
        one recorded at staging (no Spark job).
        """
        ldir = os.path.join(self.path, _LOG)
        os.makedirs(ldir, exist_ok=True)
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    **commit_info,
                    "snapshotDir": os.path.basename(snapshot),
                    "engineInfo": "ecom-churn-lakehouse-spark emulation",
                    "txnId": str(uuid.uuid4()),
                }
            }
        ]
        prev_meta, prev_active = self.delta_log_state(version - 1)
        schema_string = self._recorded_schema(snapshot).json()
        if prev_meta is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if (
            prev_meta is None
            or prev_meta.get("schemaString") != schema_string
            or prev_meta.get("partitionColumns") != (partition_by or [])
        ):
            actions.append(
                {
                    "metaData": {
                        "id": (
                            prev_meta["id"]
                            if prev_meta is not None
                            else str(
                                uuid.uuid5(uuid.NAMESPACE_URL, self.path)
                            )
                        ),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": list(partition_by or []),
                        "configuration": {},
                        "createdTime": (
                            prev_meta["createdTime"]
                            if prev_meta is not None
                            else now_ms
                        ),
                    }
                }
            )
        if txn_id is not None:
            actions.append(
                {"txn": {"appId": txn_id, "version": version, "lastUpdated": now_ms}}
            )
        for path in sorted(prev_active):
            actions.append(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        actions.extend({"add": a} for a in self._delta_files(snapshot))
        tmp = os.path.join(ldir, f".{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            for a in actions:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
        try:
            # put-if-absent, with the content already in place
            os.link(tmp, os.path.join(ldir, f"{version:020d}.json"))
        except FileExistsError:
            return False  # lost the race for this version
        finally:
            os.remove(tmp)
        self._vacuum(version)
        if (
            self.checkpoint_interval > 0
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            # Checkpointing is a read-path optimization only: a failed
            # checkpoint (pyarrow import/IO error) must never abort a
            # durable commit — the JSON action file is claimed;
            # skipping the checkpoint merely costs replay time.
            try:
                self._write_checkpoint(version)
            except Exception as exc:  # pragma: no cover - env-specific
                print(
                    "managed_table: checkpoint write skipped for "
                    f"v{version} ({type(exc).__name__}: {exc}); commit "
                    "is durable, replay falls back to JSON log"
                )
        return True

    def _vacuum(self, version: int) -> None:
        """Keep-last-2, from the log alone: after commit ``version``,
        delete the snapshot dir commit ``version - 2`` names. The
        previous commit's dir survives, so still-lazy DataFrames from an
        earlier ``read()`` (Spark lists files at action time) outlive
        one more commit, and a delayed vacuum never touches a newer
        commit's dir."""
        old = self._snapshot_dir(version - 2)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    # ------------------------------------------------- the commit log
    #
    # ``_delta_log`` holds one ``{version:020d}.json`` action file per
    # commit (commitInfo / protocol / metaData / txn / remove / add, one
    # JSON per line — the open Delta transaction-log format, cf. the
    # reference's delta-spark MERGE publish at
    # ``orders_bronze_to_silver.py:184-195``), plus protocol checkpoints.
    # It is the emulation's only commit record: its newest version is
    # HEAD, its commitInfo names each version's snapshot dir, and its
    # replay gives the active file set, schema and txn ids, so the table
    # directory is readable by any Delta client if one becomes
    # installable.

    def _delta_files(self, versioned: str) -> list[dict]:
        """Data files of a snapshot dir as Delta ``add``-action dicts
        (paths relative to the TABLE root, partitionValues parsed from
        hive-style path segments)."""
        adds = []
        for rel in _data_files(versioned):
            full = os.path.join(versioned, rel)
            pvals = dict(
                seg.split("=", 1) for seg in os.path.dirname(rel).split(os.sep) if "=" in seg
            )
            adds.append(
                {
                    "path": os.path.relpath(full, self.path),
                    "partitionValues": pvals,
                    "size": os.path.getsize(full),
                    "modificationTime": int(os.path.getmtime(full) * 1000),
                    "dataChange": True,
                }
            )
        return adds

    def delta_log_state(
        self,
        upto_version: int | None = None,
        use_checkpoint: bool | None = None,
    ) -> tuple[dict | None, dict[str, dict]]:
        """Replay ``_delta_log`` → (last metaData action, active add
        actions by path) — the snapshot-reconstruction half of the
        Delta protocol (what a Delta reader computes before scanning).

        ``use_checkpoint`` defaults to ``checkpoint_interval > 0``, so
        an instance configured with interval<=0 is checkpoint-free on
        the READ path too, not just the write path (a raw-JSON replay
        control must not silently read through a checkpoint some other
        writer left behind). Pass explicitly to override either way.
        """
        meta, active, _ = self._log_state(upto_version, use_checkpoint)
        return meta, active

    def transactions(self) -> dict[str, dict]:
        """Delta ``txn`` actions in the log, by ``appId`` (the
        ``txn_id`` an append recorded): the checkpoint's ``txn`` rows
        plus the JSON commits after it. A writer that keys its txn id by
        its input makes a replay detectable from the table itself."""
        return self._log_state()[2]

    def _log_state(
        self,
        upto_version: int | None = None,
        use_checkpoint: bool | None = None,
    ) -> tuple[dict | None, dict[str, dict], dict[str, dict]]:
        """Log replay → (last metaData, active adds by path, txn actions
        by appId); see :meth:`delta_log_state`."""
        ldir = os.path.join(self.path, "_delta_log")
        meta: dict | None = None
        active: dict[str, dict] = {}
        txns: dict[str, dict] = {}
        if not os.path.isdir(ldir):
            return meta, active, txns
        if use_checkpoint is None:
            use_checkpoint = self.checkpoint_interval > 0
        # Delta checkpointing: start replay from the newest checkpoint
        # at or below the target version (protocol behavior — a reader
        # consults _last_checkpoint, loads the parquet snapshot of the
        # action state, and replays only the JSON commits after it).
        ckpt_v = -1
        if use_checkpoint:
            for fn in os.listdir(ldir):
                if fn.endswith(".checkpoint.parquet"):
                    v = int(fn.split(".")[0])
                    if (
                        upto_version is None or v <= upto_version
                    ) and v > ckpt_v:
                        ckpt_v = v
        if ckpt_v >= 0:
            meta, active, txns = self._read_checkpoint(ckpt_v)
        for fn in sorted(os.listdir(ldir)):
            if not fn.endswith(".json") or fn == _LAST_CKPT:
                continue
            v = int(fn.split(".")[0])
            if v <= ckpt_v:
                continue
            if upto_version is not None and v > upto_version:
                break
            with open(os.path.join(ldir, fn)) as f:
                for line in f:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "metaData" in action:
                        meta = action["metaData"]
                    elif "add" in action:
                        active[action["add"]["path"]] = action["add"]
                    elif "remove" in action:
                        active.pop(action["remove"]["path"], None)
                    elif "txn" in action:
                        txns[action["txn"]["appId"]] = action["txn"]
        return meta, active, txns

    def history(self) -> list[dict]:
        """Commit history, newest first — the DESCRIBE HISTORY
        analogue: one dict per commit with version, timestamp,
        operation, operationParameters and operationMetrics from the
        log's commitInfo actions."""
        if HAVE_DELTA:
            from delta.tables import DeltaTable  # type: ignore

            return [
                r.asDict()
                for r in DeltaTable.forPath(self.spark, self.path)
                .history()
                .collect()
            ]
        ldir = os.path.join(self.path, "_delta_log")
        out: list[dict] = []
        if not os.path.isdir(ldir):
            return out
        for fn in sorted(os.listdir(ldir), reverse=True):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(ldir, fn)) as f:
                for line in f:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "commitInfo" in action:
                        info = action["commitInfo"]
                        out.append(
                            {
                                "version": int(fn.split(".")[0]),
                                "timestamp": info.get("timestamp"),
                                "operation": info.get("operation"),
                                "operationParameters": info.get(
                                    "operationParameters", {}
                                ),
                                "operationMetrics": info.get(
                                    "operationMetrics", {}
                                ),
                            }
                        )
                        break
        return out

    # Delta checkpoint parquet schema: one action per row, exactly one
    # of the struct columns non-null — the protocol's checkpoint file
    # shape (partitionValues as map<string,string>). The remove column
    # is always all-null in our snapshots (a checkpoint only carries
    # LIVE state; removes matter for incremental readers); txn rows
    # carry the appends' transaction ids. Strict Delta clients
    # (delta-rs, delta-spark) expect the columns to exist and the
    # metaData struct to carry format/name/description/configuration.
    def _ckpt_schema(self):
        import pyarrow as pa

        return pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                        ]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            ("name", pa.string()),
                            ("description", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [
                                        ("provider", pa.string()),
                                        (
                                            "options",
                                            pa.map_(
                                                pa.string(), pa.string()
                                            ),
                                        ),
                                    ]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            (
                                "configuration",
                                pa.map_(pa.string(), pa.string()),
                            ),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            (
                                "partitionValues",
                                pa.map_(pa.string(), pa.string()),
                            ),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "remove",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("deletionTimestamp", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct(
                        [
                            ("appId", pa.string()),
                            ("version", pa.int64()),
                            ("lastUpdated", pa.int64()),
                        ]
                    ),
                ),
            ]
        )

    def _write_checkpoint(self, version: int) -> None:
        """Write ``{version:020d}.checkpoint.parquet`` (the replayed
        action state as one parquet row per action) plus the
        ``_last_checkpoint`` pointer — the protocol's log-compaction
        step, making future replays O(commits since checkpoint)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ldir = os.path.join(self.path, "_delta_log")
        meta, active, txns = self._log_state(version)
        nulls = {"add": None, "remove": None, "txn": None}
        fmt = meta.get("format") or {"provider": "parquet", "options": {}}
        rows = [
            {
                "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
                "metaData": None,
                **nulls,
            },
            {
                "protocol": None,
                "metaData": {
                    "id": meta["id"],
                    "name": meta.get("name"),
                    "description": meta.get("description"),
                    "format": {
                        "provider": fmt.get("provider", "parquet"),
                        "options": list(
                            (fmt.get("options") or {}).items()
                        ),
                    },
                    "schemaString": meta["schemaString"],
                    "partitionColumns": list(meta["partitionColumns"]),
                    "configuration": list(
                        (meta.get("configuration") or {}).items()
                    ),
                    "createdTime": meta["createdTime"],
                },
                **nulls,
            },
        ]
        for path in sorted(active):
            a = active[path]
            rows.append(
                {
                    "protocol": None,
                    "metaData": None,
                    **nulls,
                    "add": {
                        "path": a["path"],
                        "partitionValues": list(
                            a.get("partitionValues", {}).items()
                        ),
                        "size": a["size"],
                        "modificationTime": a["modificationTime"],
                        "dataChange": a.get("dataChange", True),
                    },
                }
            )
        for app_id in sorted(txns):
            rows.append({"protocol": None, "metaData": None, **nulls, "txn": txns[app_id]})
        table = pa.Table.from_pylist(rows, schema=self._ckpt_schema())
        tmp = os.path.join(ldir, f".tmp-ckpt-{uuid.uuid4().hex[:8]}")
        pq.write_table(table, tmp)
        os.rename(
            tmp, os.path.join(ldir, f"{version:020d}.checkpoint.parquet")
        )
        ptr_tmp = os.path.join(ldir, f".tmp-ptr-{uuid.uuid4().hex[:8]}")
        with open(ptr_tmp, "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
        os.rename(ptr_tmp, os.path.join(ldir, _LAST_CKPT))
        # Keep only the 2 newest checkpoints: older ones are fully
        # superseded, and the _delta_log JSON commits are retained in
        # full, so a replay target below the retained checkpoint window
        # still reconstructs via raw-JSON replay from zero. Without
        # this the log accretes one checkpoint per interval for the
        # table's lifetime.
        ckpts = sorted(
            fn
            for fn in os.listdir(ldir)
            if fn.endswith(".checkpoint.parquet")
        )
        for fn in ckpts[:-2]:
            try:
                os.remove(os.path.join(ldir, fn))
            except OSError:
                pass

    def _read_checkpoint(
        self, version: int
    ) -> tuple[dict | None, dict[str, dict], dict[str, dict]]:
        """Load a checkpoint parquet back into (metaData, active adds,
        txns by appId) — the reader half of the protocol's checkpoint
        fast path."""
        import pyarrow.parquet as pq

        ldir = os.path.join(self.path, "_delta_log")
        table = pq.read_table(
            os.path.join(ldir, f"{version:020d}.checkpoint.parquet")
        )
        meta: dict | None = None
        active: dict[str, dict] = {}
        txns: dict[str, dict] = {}
        for row in table.to_pylist():
            if row.get("metaData") is not None:
                m = row["metaData"]
                fmt = m.get("format") or {}
                meta = {
                    "id": m["id"],
                    # name/description round-trip: a
                    # checkpoint written FROM checkpoint-recovered
                    # state must not null out fields an external
                    # writer set — read back everything the write
                    # side stores.
                    "name": m.get("name"),
                    "description": m.get("description"),
                    "format": {
                        "provider": fmt.get("provider") or "parquet",
                        "options": dict(fmt.get("options") or []),
                    },
                    "schemaString": m["schemaString"],
                    "partitionColumns": list(m["partitionColumns"]),
                    "configuration": dict(m.get("configuration") or []),
                    "createdTime": m["createdTime"],
                }
            elif row.get("add") is not None:
                a = row["add"]
                active[a["path"]] = {
                    "path": a["path"],
                    "partitionValues": dict(a["partitionValues"] or []),
                    "size": a["size"],
                    "modificationTime": a["modificationTime"],
                    "dataChange": a["dataChange"],
                }
            elif row.get("txn") is not None:
                txns[row["txn"]["appId"]] = row["txn"]
        return meta, active, txns

    def last_checkpoint(self) -> dict | None:
        """Contents of ``_last_checkpoint`` (or None before the first
        checkpoint) — surfaced so tests and operators can assert the
        protocol cadence."""
        p = os.path.join(self.path, "_delta_log", _LAST_CKPT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def _file_metrics(snapshot: str) -> dict[str, int]:
        """``numFiles`` / ``numOutputBytes`` / ``numOutputRows`` of a
        snapshot's data files, from the filesystem and the parquet
        footers, read in this process (no Spark job)."""
        import pyarrow.parquet as pq

        files = [os.path.join(snapshot, f) for f in _data_files(snapshot)]
        return {
            "numFiles": len(files),
            "numOutputBytes": sum(os.path.getsize(f) for f in files),
            "numOutputRows": sum(pq.read_metadata(f).num_rows for f in files),
        }

    def _occ_publish(
        self,
        build: Callable[[str | None], tuple[DataFrame, Callable]],
        operation: str,
        parameters: dict[str, str],
        partition_by: list[str] | None = None,
        base_dependent: bool = True,
        max_retries: int = 8,
        txn_id: str | None = None,
    ) -> Commit:
        """Optimistic-concurrency publish loop. Each attempt resolves
        its base once — the newest log version and the snapshot dir it
        names — and claims version base + 1. On a lost claim a
        ``base_dependent`` write (MERGE, append, OPTIMIZE) restages
        against the winner's snapshot; a blind overwrite re-claims with
        the dir it already staged.

        ``build(base_dir)`` (``None`` for an empty table) returns
        ``(frame, finish)``. ``finish(staged)`` runs after the staged
        write and before the claim: it completes the staged dir (an
        append carries the base snapshot's files in) and returns the
        observed ``(metrics, report)``, or raises — a failed verdict —
        which abandons the staged dir unpublished. Every restaged
        attempt calls ``build()`` again, so each gets a fresh
        ``Observation``."""
        staged: str | None = None
        try:
            for _ in range(max_retries + 1):
                base = self._latest_version()
                if staged is None or base_dependent:
                    if staged is not None:
                        shutil.rmtree(staged, ignore_errors=True)
                        staged = None
                    frame, finish = build(self._snapshot_dir(base))
                    staged = self._stage(frame, partition_by)
                    observed, report = finish(staged)
                    metrics = {**observed, **self._file_metrics(staged)}
                info = {
                    "operation": operation,
                    "operationParameters": parameters,
                    "operationMetrics": metrics,
                }
                if self._try_commit(base + 1, staged, partition_by, info, txn_id):
                    staged = None
                    return Commit(base + 1, operation, metrics, report)
        finally:
            if staged is not None:
                shutil.rmtree(staged, ignore_errors=True)
        raise RuntimeError(
            f"managed-table commit contention: {max_retries + 1} attempts "
            f"lost the claim at {self.path}"
        )

    def _delta_commit(self, report: DQReport | None = None) -> Commit:
        """The :class:`Commit` of the Delta transaction just run, from
        the table history (delta-spark records operationMetrics)."""
        from delta.tables import DeltaTable  # type: ignore

        last = DeltaTable.forPath(self.spark, self.path).history(1).collect()[0]
        metrics = {
            k: int(v)
            for k, v in (last["operationMetrics"] or {}).items()
            if str(v).isdigit()
        }
        if (last["operationParameters"] or {}).get("mode") == "Append":
            # a Delta append writes only the new rows
            metrics.setdefault("numSourceRows", metrics.get("numOutputRows", 0))
        return Commit(int(last["version"]), last["operation"], metrics, report)

    @staticmethod
    def _write_params(mode: str, partition_by: list[str] | None) -> dict[str, str]:
        return {"mode": mode, "partitionBy": json.dumps(partition_by or [])}

    def overwrite(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> Commit:
        """S6 initial/overwrite publish (operation WRITE)."""
        if HAVE_DELTA:
            w = df.write.format("delta").mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.save(self.path)
            return self._delta_commit()
        return self._occ_publish(
            lambda base: (df, lambda staged: ({}, None)),
            "WRITE",
            self._write_params("Overwrite", partition_by),
            partition_by,
            base_dependent=False,
        )

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        evolve_schema: bool = False,
        txn_id: str | None = None,
    ) -> Commit:
        """S4/S5 append-only sink (bronze, audit log); operation APPEND.

        Add-only, as a Delta append: the one Spark action writes only
        ``df``'s rows, then the base snapshot's data files are
        hard-linked into the staged dir under the same relative paths,
        so the new snapshot is self-contained (``read()``, time travel
        and the vacuum see a whole table) and no existing row is
        rewritten. ``numSourceRows`` is the rows of ``df``, observed
        during the write; ``numOutputRows`` / ``numFiles`` /
        ``numOutputBytes`` describe the whole published snapshot.

        Incoming columns are written in the table's order and cast to
        its types, so the new files read under the recorded schema.
        ``evolve_schema=True`` widens the table to the union of the
        current and incoming columns (old files lack the new columns and
        read them as NULL — Delta ``mergeSchema`` semantics); without it
        a column mismatch fails loudly, which is the contract-enforcing
        default for pipeline sinks. An append keeps the table's
        partition columns; changing them takes an overwrite.

        ``txn_id`` records a Delta ``txn`` action (appId = ``txn_id``)
        in this commit, listed by :meth:`transactions`: a writer that
        keys it by its input can skip a replay from the log alone.
        """
        if HAVE_DELTA:
            w = df.write.format("delta").mode("append")
            if evolve_schema:
                w = w.option("mergeSchema", "true")
            if txn_id is not None:
                w = w.option("txnAppId", txn_id).option("txnVersion", 0)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.save(self.path)
            return self._delta_commit()

        def build(base: str | None):
            incoming = df if base is None else self._conform(
                df, base, partition_by, evolve_schema
            )
            obs = Observation()
            observed = incoming.observe(obs, F.count(F.lit(1)).alias("numSourceRows"))

            def finish(staged: str):
                if base is not None:
                    for rel in _data_files(base):
                        dst = os.path.join(staged, rel)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(os.path.join(base, rel), dst)
                return {"numSourceRows": int(obs.get["numSourceRows"])}, None

            return observed, finish

        return self._occ_publish(
            build,
            "APPEND",
            self._write_params("Append", partition_by),
            partition_by,
            txn_id=txn_id,
        )

    def _conform(
        self,
        df: DataFrame,
        base: str,
        partition_by: list[str] | None,
        evolve_schema: bool,
    ) -> DataFrame:
        """``df`` laid out to sit beside ``base``'s files: the table's
        columns in its order and types, then any new columns
        (``evolve_schema``), with the same partition columns."""
        files = _data_files(base)
        if files:
            dirs = os.path.dirname(files[0]).split(os.sep)
            layout = [seg.split("=", 1)[0] for seg in dirs if "=" in seg]
            if layout != list(partition_by or []):
                raise ValueError(
                    f"append to {self.path} must keep its partition columns "
                    f"{layout}; got {list(partition_by or [])}"
                )
        current = self._recorded_schema(base)
        missing = [c for c in current.names if c not in df.columns]
        extra = [c for c in df.columns if c not in current.names]
        if (missing or extra) and not evolve_schema:
            raise ValueError(
                f"append columns differ from the table's: missing {missing}, "
                f"extra {extra}; pass evolve_schema=True to widen the table"
            )
        return df.select(
            *[
                (F.col(f.name) if f.name in df.columns else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in current.fields
            ],
            *extra,
        )

    def _validate_checks(self, checks: list[dict]) -> None:
        for spec in checks:
            if spec["type"] == "unique" and set(spec["keys"]) != set(self.keys):
                raise ValueError(
                    "merge checks must be row-predicate, single_value, or "
                    f"unique on the merge keys {self.keys}; got unique on "
                    f"{spec['keys']}"
                )

    def _verdict(self, dup_groups: int, report: DQReport) -> None:
        """Refuse a merge whose source repeats a key (MERGE would be
        nondeterministic) or fails a critical gate."""
        problems = []
        if dup_groups:
            problems.append(
                f"merge source not unique on keys {self.keys} "
                f"({dup_groups} duplicated key groups)"
            )
        if not report.ok:
            problems.append(
                f"failed gates {[r.name for r in report.blocking_failures]}"
            )
        if problems:
            raise MergeBlocked("merge blocked: " + "; ".join(problems), report)

    def merge(
        self,
        source: DataFrame,
        delete_col: str | None = None,
        evolve_schema: bool = False,
        checks: list[dict] | None = None,
        order_by: list[Column] | None = None,
    ) -> Commit:
        """S7 keyed upsert: update-all when matched, insert-all otherwise.

        Without ``order_by``, requires ``source`` unique per key (the
        reference guarantees this upstream via W1 dedup / snapshot
        grain; we enforce it — a non-unique source makes MERGE
        nondeterministic). With ``order_by``, the first source row per
        key under that order is the key's upsert (W1 dedup folded into
        the merge): the other rows count in ``numSourceRows`` and
        nowhere else — gates, the duplicate-key verdict and the
        published snapshot see the winners only. ``order_by`` may use
        the source's data columns, not ``delete_col``.

        ``delete_col`` names a boolean column in ``source`` marking CDC
        tombstones: matched target rows are DELETED instead of updated,
        and unmatched tombstones are ignored. The flag column itself
        never lands in the table.

        ``evolve_schema=True`` lets the source carry columns the table
        doesn't have yet; the table widens and existing rows backfill
        NULL (Delta ``autoMerge`` semantics).

        ``checks`` are DQ gates (``dq.checks`` specs) over the upserted
        rows: row predicates, ``single_value``, and ``unique`` on the
        merge keys (its ``bad_rows`` = duplicated key groups of the
        source).

        One Spark action: current ∪ source is shuffled once on the
        keys, a window over each key ranks the source rows
        (``order_by``) and decides which rows survive, and
        one ``df.observe`` on that frame counts source, upsert and
        tombstone rows, matched target rows, duplicated keys and every
        gate. The verdict runs on those counts after the staged write
        and before the claim, so a non-unique source raises
        :class:`MergeBlocked` (a ``ValueError``, "… not unique …") and
        a failing critical gate raises it naming the gates; either way
        nothing is published. Returns the :class:`Commit` (operation
        MERGE); ``commit.report.row_count`` is the upserted rows.

        With delta-spark the source is deduplicated first
        (``dedup_top1`` on ``order_by``) and the gates run as their own
        pass (gate-then-MERGE): observation across the MERGE command is
        not guaranteed there.
        """
        checks = list(checks or [])
        order_by = list(order_by or [])
        self._validate_checks(checks)
        keys = self.keys
        upsert = (
            F.coalesce(~F.col(delete_col), F.lit(False))
            if delete_col is not None
            else F.lit(True)
        )
        data_cols = [c for c in source.columns if c != delete_col]
        if HAVE_DELTA:
            if order_by:
                source = dedup_top1(source, keys, order_by)
            dup = (
                source.groupBy(*keys).count().filter(F.col("count") > 1).count()
            )
            upserts = source.filter(upsert).select(*data_cols)
            report = run_checks(upserts, checks)
            self._verdict(dup, report)
            if not self.exists():
                self.overwrite(upserts)
                return self._delta_commit(report)
            from delta.tables import DeltaTable  # type: ignore

            if evolve_schema:
                self.spark.conf.set(
                    "spark.databricks.delta.schema.autoMerge.enabled", "true"
                )
            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            tgt = DeltaTable.forPath(self.spark, self.path).alias("t")
            if delete_col is None:
                (
                    tgt.merge(source.alias("s"), cond)
                    .whenMatchedUpdateAll()
                    .whenNotMatchedInsertAll()
                    .execute()
                )
            else:
                sets = {c: f"s.{c}" for c in data_cols}
                (
                    tgt.merge(source.alias("s"), cond)
                    .whenMatchedDelete(condition=f"s.{delete_col} = true")
                    .whenMatchedUpdate(set=sets)
                    .whenNotMatchedInsert(
                        condition=f"s.{delete_col} = false", values=sets
                    )
                    .execute()
                )
            return self._delta_commit(report)

        is_src, up = F.col("__mt_src"), F.col("__mt_up")
        n_src, hit = F.col("__mt_nsrc"), F.col("__mt_hit")
        # ``won``: the source row that speaks for its key — the first
        # under ``order_by``, else every source row (a repeat is refused)
        won = F.col("__mt_won") if order_by else F.lit(True)
        upserted = is_src & up & won
        repeated = F.lit(False) if order_by else is_src & (n_src > 1)
        keyed = F.lit(True)
        for k in keys:
            keyed = keyed & F.col(k).isNotNull()
        # a target row is displaced by any source row on its (non-NULL)
        # key; hit = 1 when one of those source rows is an upsert
        matched = ~is_src & keyed & (n_src > 0)

        def build(base: str | None):
            # ``base`` is re-resolved from the log on every (re)try: a
            # racer that lost the claim re-applies its upserts on top of
            # the winner's snapshot — serializable, no lost update.
            tagged = source.select(
                *data_cols, upsert.alias("__mt_up"), F.lit(True).alias("__mt_src")
            )
            if base is None:
                both = tagged
            else:
                current = self._scan(base)
                extra = set(data_cols) - set(current.columns)
                if extra and not evolve_schema:
                    raise ValueError(
                        f"merge source has columns not in table: {sorted(extra)}; "
                        "pass evolve_schema=True to widen the table"
                    )
                both = current.select(
                    *current.columns,
                    F.lit(None).cast("boolean").alias("__mt_up"),
                    F.lit(False).alias("__mt_src"),
                ).unionByName(tagged, allowMissingColumns=evolve_schema)
            w = Window.partitionBy(*keys)
            if order_by:
                # source rows first, in order; one sort inside the same
                # per-key exchange
                ranked = w.orderBy(is_src.desc(), *order_by)
                both = both.withColumn("__mt_won", F.row_number().over(ranked) == 1)
                w = ranked.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            both = both.withColumn(
                "__mt_nsrc", F.sum(is_src.cast("int")).over(w)
            ).withColumn("__mt_hit", F.max(upserted.cast("int")).over(w))
            obs = Observation()
            observed = both.observe(
                obs,
                F.count_if(is_src).alias("numSourceRows"),
                F.count_if(matched & (hit == 1)).alias("numTargetRowsUpdated"),
                F.count_if(matched & (hit == 0)).alias("numTargetRowsDeleted"),
                F.sum(F.when(repeated, 1.0 / n_src)).alias("__dups"),
                *check_aggregates(checks, where=upserted),
            )
            frame = observed.filter(upserted | (~is_src & ~matched)).drop(
                "__mt_up", "__mt_src", "__mt_nsrc", "__mt_hit", "__mt_won"
            )

            def verdict(staged: str):
                m = obs.get
                dup = round(m["__dups"] or 0)
                report = report_from_metrics(m, checks, lambda spec: dup)
                self._verdict(dup, report)
                updated = int(m["numTargetRowsUpdated"])
                return {
                    "numSourceRows": int(m["numSourceRows"]),
                    "numTargetRowsInserted": report.row_count - updated,
                    "numTargetRowsUpdated": updated,
                    "numTargetRowsDeleted": int(m["numTargetRowsDeleted"]),
                }, report

            return frame, verdict

        predicate = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        return self._occ_publish(build, "MERGE", {"predicate": predicate})

    def merge_gated(self, source: DataFrame, checks: list[dict]) -> DQReport:
        """``merge(source, checks=checks).report`` under its former
        name, which ``perfbench/workloads.py`` still instruments."""
        return self.merge(source, checks=checks).report

    # ------------------------------------------------------- maintenance

    def compact(
        self,
        target_files: int | None = None,
        sort_by: list[str] | None = None,
        target_file_bytes: int = 128 << 20,
        zorder_by: list[str] | None = None,
    ) -> Commit | None:
        """Small-file compaction (Delta OPTIMIZE analogue).

        Streaming/incremental sinks accrete many small files; at scale
        the scan cost becomes file-open-bound, not byte-bound. With
        delta-spark this routes to the real ``OPTIMIZE`` (Z-order when
        ``sort_by`` given). The emulation rewrites the snapshot:

        - ``target_files`` defaults to snapshot-bytes / 128 MiB — the
          file size object stores and parquet readers want;
        - without ``sort_by``: ``coalesce`` (narrow — no shuffle, tasks
          just concatenate input splits);
        - with ``sort_by``: range-partition + sort-within-partitions,
          which clusters the sort keys so parquet row-group min/max
          stats give non-overlapping ranges per file — the flat-file
          form of data skipping (leading column only);
        - with ``zorder_by``: the same, but ordered by a Morton code
          over the given columns (sources/zorder.py), so file stats
          prune on EVERY listed dimension, not just the first.

        The emulation's commit is an OPTIMIZE; delta-spark's returns
        its own metrics frame, so this returns None there.
        """
        if HAVE_DELTA:
            from delta.tables import DeltaTable  # type: ignore

            opt = DeltaTable.forPath(self.spark, self.path).optimize()
            if zorder_by:
                opt.executeZOrderBy(*zorder_by)
            elif sort_by:
                opt.executeZOrderBy(*sort_by)
            else:
                opt.executeCompaction()
            return None

        def rewrite(base: str | None) -> DataFrame:
            # Re-read and re-sized per OCC attempt: a data commit racing
            # the compaction must not be clobbered by a stale rewrite.
            if base is None:
                raise FileNotFoundError(f"no committed snapshot at {self.path}")
            n = target_files
            if n is None:
                total = sum(os.path.getsize(os.path.join(base, f)) for f in _data_files(base))
                n = max(1, math.ceil(total / target_file_bytes))
            df = self._scan(base)
            if zorder_by:
                # True multi-dimensional clustering: range-partition +
                # sort by the Morton code so every file's bounding box
                # is small in EVERY z-ordered dimension
                # (sources/zorder.py) — the flat-parquet analogue of
                # Delta's OPTIMIZE ZORDER BY.
                from ecom_churn_lakehouse_spark.sources.zorder import (
                    with_zorder_value,
                )

                zcol = "__zvalue"
                return (
                    with_zorder_value(df, zorder_by, out=zcol)
                    .repartitionByRange(n, F.col(zcol))
                    .sortWithinPartitions(zcol)
                    .drop(zcol)
                )
            if sort_by:
                return df.repartitionByRange(
                    n, *[F.col(c) for c in sort_by]
                ).sortWithinPartitions(*sort_by)
            return df.coalesce(n)

        # Partition-dir layout is not preserved: a sorted compaction IS
        # the layout. Callers that need dir partitioning re-publish via
        # overwrite(partition_by=...).
        return self._occ_publish(
            lambda base: (rewrite(base), lambda staged: ({}, None)),
            "OPTIMIZE",
            {"zOrderBy": json.dumps(zorder_by or sort_by or [])},
        )

    def diff_versions(
        self, old: int, new: int | None = None
    ) -> DataFrame:
        """Row-level changes between two snapshots — the change-data-
        feed analogue over time travel: one row per key whose presence
        or payload differs, ``change_type`` ∈ {insert, update, delete}.

        The output is exactly the "delta keys" feed that
        ``pipelines.incremental.incremental_gold_update`` scopes its
        recompute to — derive it from retained snapshots instead of
        having the writer thread it through.

        Scale: both snapshots project to (keys, payload-struct) before
        ONE full-outer join co-partitioned on the table keys; payloads
        compare with a single null-safe struct equality (no per-column
        fan-out). With Delta's CDF enabled this would read the change
        log instead of two snapshots; the plan here is the general
        form. Payload comparison covers the non-key columns the two
        snapshots share — a column added by schema evolution flags
        rows only through the columns both sides have.
        """
        o = self.read(old)
        n = self.read(new)
        common = sorted(
            (set(o.columns) & set(n.columns)) - set(self.keys)
        )
        # keys-only table: presence is the whole payload — a constant
        # stand-in makes every matched pair compare equal (no updates).
        payload = [F.col(c) for c in common] or [F.lit(0).alias("__none")]
        o_side = o.select(
            *self.keys,
            F.struct(*payload).alias("__old"),
            F.lit(True).alias("__in_old"),
        )
        n_side = n.select(
            *self.keys,
            F.struct(*payload).alias("__new"),
            F.lit(True).alias("__in_new"),
        )
        j = o_side.join(n_side, on=self.keys, how="full_outer")
        change = (
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .when(
                ~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update")
            )
        )
        return j.select(*self.keys, change.alias("change_type")).filter(
            F.col("change_type").isNotNull()
        )

    def file_count(self) -> int:
        """Data files in the current snapshot (compaction observability)."""
        if HAVE_DELTA:
            return len(
                self.spark.read.format("delta").load(self.path).inputFiles()
            )
        return len(self.read().inputFiles())
