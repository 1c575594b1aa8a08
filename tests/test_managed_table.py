"""Managed-table layer: merge/append/overwrite/existence (S4-S9)."""

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable


def _head(t):
    """The snapshot dir the table's newest commit names."""
    return t._snapshot_dir(t.versions()[-1])


def _unnamed_dirs(t):
    """Snapshot dirs on disk that no retained commit names."""
    named = {os.path.basename(t._snapshot_dir(v)) for v in t.versions()}
    return {d for d in os.listdir(t.path) if d.startswith("v-")} - named


def test_exists_probe(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    assert not t.exists()
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))
    assert t.exists()


def test_merge_upsert_semantics(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.merge(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    # update a, insert c
    t.merge(spark.createDataFrame([Row(k="a", v=10), Row(k="c", v=3)]))
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert out == {"a": 10, "b": 2, "c": 3}


def test_merge_is_idempotent(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    src = spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)])
    t.merge(src)
    t.merge(src)  # republish: same result, no duplicates
    assert t.read().count() == 2


def test_merge_rejects_nonunique_source(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    with pytest.raises(ValueError, match="not unique"):
        t.merge(spark.createDataFrame([Row(k="a", v=1), Row(k="a", v=2)]))


def test_append_accumulates(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.append(spark.createDataFrame([Row(k="a", v=1)]))
    t.append(spark.createDataFrame([Row(k="a", v=2)]))
    assert t.read().count() == 2  # append-only: duplicates allowed


def test_composite_key_merge(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k1", "k2"])
    t.merge(spark.createDataFrame([Row(k1="a", k2=1, v="x")]))
    t.merge(spark.createDataFrame([Row(k1="a", k2=1, v="y"), Row(k1="a", k2=2, v="z")]))
    out = {(r["k1"], r["k2"]): r["v"] for r in t.read().collect()}
    assert out == {("a", 1): "y", ("a", 2): "z"}


# ----------------------------------------------------------- compaction


def test_compact_reduces_files_and_preserves_data(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "c"), keys=["k"])
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.overwrite(df.repartition(16))
    assert t.file_count() >= 16
    before = t.read().orderBy("k").collect()
    t.compact(target_files=2)
    assert t.file_count() <= 2
    assert t.read().orderBy("k").collect() == before


def test_compact_sorted_clusters_key_ranges(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "s"), keys=["k"])
    df = spark.range(1000).select(F.col("id").alias("k"))
    t.overwrite(df.repartition(8))
    t.compact(target_files=4, sort_by=["k"])
    # per-file key ranges must not overlap — that's what makes row-group
    # min/max stats skip files for point/range predicates
    ranges = (
        t.read()
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for a, b in zip(ranges, ranges[1:]):
        assert a["hi"] < b["lo"]
    assert t.read().count() == 1000


def test_compact_default_sizing(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "d"), keys=["k"])
    t.overwrite(spark.range(100).select(F.col("id").alias("k")).repartition(10))
    t.compact()  # tiny table → single 128 MiB-target file
    assert t.file_count() == 1


def test_commit_keeps_previous_snapshot(spark, tmp_path):
    # deferred vacuum: a lazily-held read() of version N
    # must survive the commit of N+1 (deleted only at N+2).
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    held = t.read()  # resolves the v1 snapshot dir
    t.merge(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert held.count() == 1  # v1 still on disk after one commit
    t.merge(spark.createDataFrame([(3, "c")], "k int, v string"))
    vdirs = [d for d in os.listdir(str(tmp_path / "t")) if d.startswith("v-")]
    assert len(vdirs) == 2  # keep-last-2: v1 vacuumed at the v3 commit
    assert t.read().count() == 3


def test_time_travel_reads_previous_snapshot(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.merge(spark.createDataFrame([(1, "A"), (2, "b")], "k int, v string"))
    vs = t.versions()
    assert len(vs) == 2 and vs == sorted(vs)  # monotone ids, oldest first
    assert {r["v"] for r in t.read(version=vs[0]).collect()} == {"a"}
    assert {r["v"] for r in t.read().collect()} == {"A", "b"}
    with pytest.raises(ValueError, match="not retained"):
        t.read(version=99)


def test_table_dir_holds_only_the_log_and_two_snapshots(spark, tmp_path):
    """The log is the only commit record: after N commits the table dir
    holds ``_delta_log/`` and at most two snapshot dirs, nothing else."""
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([(0, "a")], "k int, v string"))
    for i in range(1, 4):
        t.merge(spark.createDataFrame([(i, "b")], "k int, v string"))
    t.append(spark.createDataFrame([(9, "c")], "k int, v string"))
    entries = set(os.listdir(t.path))
    snapshots = {d for d in entries if d.startswith("v-")}
    assert entries == {"_delta_log"} | snapshots and len(snapshots) == 2
    assert {os.path.basename(t._snapshot_dir(v)) for v in t.versions()} == snapshots
    assert t.versions() == [3, 4]


def test_read_of_vacuumed_version_lists_retained_versions(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.merge(spark.createDataFrame([(2, "b")], "k int, v string"))
    t.merge(spark.createDataFrame([(3, "c")], "k int, v string"))
    with pytest.raises(ValueError, match=r"version 0 not retained; available: \[1, 2\]"):
        t.read(0)
    assert {r["k"] for r in t.read(1).collect()} == {1, 2}


def test_empty_partitioned_writes_read_back_empty(spark, tmp_path):
    """Readers take the snapshot dir from the commitInfo, not from the
    adds: an empty partitioned write leaves no data file at all, yet it
    publishes and reads back empty with the table schema, and so do an
    empty append and an empty merge on top of it."""
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    empty = spark.createDataFrame([], "k int, v string, p string")
    want = "struct<k:int,v:string,p:string>"
    c = t.overwrite(empty, partition_by=["p"])
    assert c.metrics["numFiles"] == 0 and t.delta_log_state()[1] == {}
    assert t.read().count() == 0 and t.read().schema.simpleString() == want
    a = t.append(empty, partition_by=["p"])
    assert (a.version, a.metrics["numFiles"]) == (1, 0)
    m = t.merge(empty)
    assert (m.version, m.metrics["numTargetRowsInserted"]) == (2, 0)
    assert t.read().count() == 0 and t.read().schema.simpleString() == want
    assert [h["operation"] for h in t.history()] == ["MERGE", "APPEND", "WRITE"]


# ------------------------------------------------- observed-gate publish


def test_merge_gated_publishes_and_reports(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "g"), keys=["k"])
    checks = [{"name": "v_not_null", "type": "not_null", "columns": ["v"]}]
    rep = t.merge(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        checks=checks,
    ).report
    assert rep.ok and rep.row_count == 2 and rep.results[0].bad_rows == 0
    assert t.read().count() == 2
    # second gated merge: update + insert, gates still observed
    rep2 = t.merge(
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        checks=checks,
    ).report
    assert rep2.ok and rep2.row_count == 2
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "B", 3: "c"}


def test_merge_gated_aborts_before_head_swap(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "g"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    before = t.versions()
    with pytest.raises(ValueError, match="merge blocked: failed gates"):
        t.merge(
            spark.createDataFrame([(2, None)], "k int, v string"),
            checks=[{"name": "v_not_null", "type": "not_null", "columns": ["v"]}],
        )
    # table unchanged, staged snapshot cleaned up
    assert {r["k"] for r in t.read().collect()} == {1}
    assert t.versions() == before
    assert not _unnamed_dirs(t)


def test_merge_gated_rejects_unique_check_spec(spark, tmp_path):
    # unique gates must be on the merge keys (the merge's own duplicate
    # count); any other unique spec is refused before any work
    t = ManagedTable(spark, str(tmp_path / "g"), keys=["k"])
    with pytest.raises(ValueError, match="row-predicate"):
        t.merge(
            spark.createDataFrame([(1, "a")], "k int, v string"),
            checks=[{"type": "unique", "keys": ["v"]}],
        )
    assert not t.exists()


def test_merge_with_cdc_deletes(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "cdc"), keys=["k"])
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )
    # one delete, one update, one insert, one unmatched tombstone (no-op)
    t.merge(
        spark.createDataFrame(
            [(2, None, True), (3, "C", False), (4, "d", False), (9, None, True)],
            "k int, v string, _deleted boolean",
        ),
        delete_col="_deleted",
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 3: "C", 4: "d"}
    assert "_deleted" not in t.read().columns


def test_merge_schema_evolution_backfills_null(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "evo"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    # evolving source carries a new column; un-evolved merge must fail loudly
    src = spark.createDataFrame([(2, "B", 7)], "k int, v string, score int")
    with pytest.raises(ValueError, match="evolve_schema"):
        t.merge(src)
    t.merge(src, evolve_schema=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("B", 7)}


def test_append_schema_evolution(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "evo2"), keys=["k"])
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(
        spark.createDataFrame([(2, "b", "src1")], "k int, v string, origin string"),
        evolve_schema=True,
    )
    rows = {r["k"]: (r["v"], r["origin"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", "src1")}


# ------------------------------------ one action per write: commits


def test_merge_commit_metrics_upsert_and_tombstone(spark, tmp_path):
    """commitInfo carries Delta-style operation + operationMetrics,
    counted by the write itself and returned by history()."""
    t = ManagedTable(spark, str(tmp_path / "m"), keys=["k"])
    w = t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )
    assert (w.version, w.operation) == (0, "WRITE")
    assert w.metrics["numOutputRows"] == 3
    # one delete, one update, one insert, one unmatched tombstone
    c = t.merge(
        spark.createDataFrame(
            [(2, None, True), (3, "C", False), (4, "d", False), (9, None, True)],
            "k int, v string, _deleted boolean",
        ),
        delete_col="_deleted",
    )
    files = [f.removeprefix("file:") for f in t.read().inputFiles()]
    assert (c.version, c.operation) == (1, "MERGE")
    assert c.metrics == {
        "numSourceRows": 4,
        "numTargetRowsInserted": 1,
        "numTargetRowsUpdated": 1,
        "numTargetRowsDeleted": 1,
        "numOutputRows": 3,
        "numFiles": len(files),
        "numOutputBytes": sum(os.path.getsize(f) for f in files),
    }
    assert c.report.row_count == 2  # upserted rows
    h = t.history()
    assert [e["operation"] for e in h] == ["MERGE", "WRITE"]
    assert h[0]["operationMetrics"] == c.metrics
    assert h[1]["operationMetrics"] == w.metrics
    a = t.append(spark.createDataFrame([(5, "e")], "k int, v string"))
    assert a.operation == "APPEND"
    assert a.metrics["numSourceRows"] == 1 and a.metrics["numOutputRows"] == 4
    assert t.history()[0]["operation"] == "APPEND"


def test_nonunique_merge_leaves_head_and_versions(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "u"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    head, before, hist = _head(t), t.versions(), t.history()
    with pytest.raises(ValueError, match="not unique"):
        t.merge(spark.createDataFrame([(2, "b"), (2, "c")], "k int, v string"))
    assert _head(t) == head and t.versions() == before
    assert t.history() == hist
    assert not _unnamed_dirs(t)


def test_retried_merge_observes_each_attempt_afresh(spark, tmp_path):
    """A merge that loses the CAS restages against the winner's snapshot
    with a fresh Observation: its metrics describe the attempt that
    landed, not the sum of both."""
    path = str(tmp_path / "r")
    t = ManagedTable(spark, path, keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="base", v=0)]))
    other = ManagedTable(spark, path, keys=["k"])
    real_commit, staged = t._try_commit, []

    def commit_after_an_intruder(version, stage_dir, *args):
        staged.append(stage_dir)
        if len(staged) == 1:  # a concurrent commit lands first
            other.merge(spark.createDataFrame([Row(k="intruder", v=9)]))
        return real_commit(version, stage_dir, *args)

    t._try_commit = commit_after_an_intruder
    c = t.merge(
        spark.createDataFrame([Row(k="mine", v=1), Row(k="base", v=2)]),
        checks=[{"name": "v_not_null", "type": "not_null", "columns": ["v"]}],
    )
    assert len(staged) == 2 and staged[0] != staged[1]
    assert c.version == 2
    assert c.metrics["numSourceRows"] == 2 and c.report.row_count == 2
    assert c.metrics["numTargetRowsUpdated"] == 1
    assert c.metrics["numTargetRowsInserted"] == 1
    assert c.metrics["numOutputRows"] == 3
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert out == {"base": 2, "intruder": 9, "mine": 1}


# ------------------------------------------ scan schema recorded at write


def _same_schema_as_inference(spark, t, count_jobs):
    schema, jobs = count_jobs(lambda: t.read().schema)
    # every footer of the snapshot: after an evolving append its files
    # carry different schemas, and plain inference reads just one
    scanned = spark.read.option("mergeSchema", "true").parquet(_head(t))
    assert schema == scanned.schema
    assert jobs == 0  # recorded at write time, not inferred


def test_read_schema_unpartitioned(spark, tmp_path, count_jobs):
    t = ManagedTable(spark, str(tmp_path / "s"), keys=["k"])
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 1.5, [1, 2])], "k int not null, v string, x double, a array<int>"
        )
    )
    _same_schema_as_inference(spark, t, count_jobs)


def test_read_schema_date_partitioned(spark, tmp_path, count_jobs):
    t = ManagedTable(spark, str(tmp_path / "p"), keys=["order_id"])
    data = spark.range(6).select(
        F.concat(F.lit("o"), F.col("id")).alias("order_id"),
        F.to_date(F.lit("2025-01-01")).alias("ingest_date"),
        F.col("id").alias("n"),
    )
    t.append(data, partition_by=["ingest_date"])
    t.append(data, partition_by=["ingest_date"])
    assert t.read().columns == ["order_id", "n", "ingest_date"]
    _same_schema_as_inference(spark, t, count_jobs)


def test_read_schema_after_evolution(spark, tmp_path, count_jobs):
    a = ManagedTable(spark, str(tmp_path / "a"), keys=["k"])
    a.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    a.append(
        spark.createDataFrame([(2, "b", 3)], "k int, v string, n int"),
        evolve_schema=True,
    )
    assert a.read().columns == ["k", "v", "n"]
    _same_schema_as_inference(spark, a, count_jobs)
    m = ManagedTable(spark, str(tmp_path / "m"), keys=["k"])
    m.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    m.merge(
        spark.createDataFrame([(2, "b", 1.5)], "k int, v string, score double"),
        evolve_schema=True,
    )
    assert m.read().columns == ["k", "v", "score"]
    _same_schema_as_inference(spark, m, count_jobs)


def test_morton_interleave_known_bits(spark):
    from ecom_churn_lakehouse_spark.sources.zorder import morton_interleave

    df = spark.createDataFrame([(3, 1)], "x long, y long")
    # bits of x land at even positions, y at odd:
    # x=0b11 -> pos0,pos2 ; y=0b01 -> pos1 ; z = 0b0111 = 7
    got = df.select(
        morton_interleave([F.col("x"), F.col("y")], bits=2).alias("z")
    ).collect()[0]["z"]
    assert got == 7


def test_compact_zorder_clusters_every_dimension(spark, tmp_path):
    # 64x64 uniform grid: lexicographic sort clusters x only (every file
    # spans ~the full y range); z-order bounds the span in BOTH dims.
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / F.lit(64)).cast("long").alias("y"),
    )

    def spans(t):
        rows = (
            t.read()
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .collect()
        )
        n = len(rows)
        return (
            sum(r["sx"] for r in rows) / n,
            sum(r["sy"] for r in rows) / n,
            n,
        )

    lex = ManagedTable(spark, str(tmp_path / "lex"), keys=["x", "y"])
    lex.overwrite(grid.repartition(8))
    lex.compact(target_files=16, sort_by=["y", "x"])
    lex_sx, _, n1 = spans(lex)  # x = the NON-leading dim under lex sort

    zt = ManagedTable(spark, str(tmp_path / "z"), keys=["x", "y"])
    zt.overwrite(grid.repartition(8))
    zt.compact(target_files=16, zorder_by=["x", "y"])
    z_sx, z_sy, n2 = spans(zt)

    assert n1 > 4 and n2 > 4
    # lexicographic: non-leading dimension spans ~everything
    assert lex_sx > 55
    # z-order: BOTH dimensions bounded well below the full range
    assert z_sx < 40 and z_sy < 40
    assert zt.read().count() == 64 * 64


def test_diff_versions_reports_exact_change_set(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "dv"), keys=["k"])
    t.overwrite(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    ))
    v_old = t.versions()[-1]
    t.merge(spark.createDataFrame(
        # update k=2's payload, insert k=4, delete k=3, leave k=1 alone
        [(2, "B", 21, False), (4, "d", 40, False), (3, "c", 30, True),
         (1, "a", 10, False)],
        "k long, s string, v long, deleted boolean",
    ), delete_col="deleted")
    got = {(r["k"], r["change_type"])
           for r in t.diff_versions(v_old).collect()}
    assert got == {(2, "update"), (4, "insert"), (3, "delete")}


def test_diff_versions_keys_only_table(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "ko"), keys=["k"])
    t.overwrite(spark.createDataFrame([(1,), (2,)], "k long"))
    v = t.versions()[-1]
    t.merge(spark.createDataFrame([(2,), (3,)], "k long"))
    got = {(r["k"], r["change_type"]) for r in t.diff_versions(v).collect()}
    assert got == {(3, "insert")}  # presence-only: no spurious updates


def test_zorder_value_handles_nulls_negatives_and_constants(spark):
    from ecom_churn_lakehouse_spark.sources.zorder import with_zorder_value

    df = spark.createDataFrame(
        [(-100, 5.0), (0, None), (100, -5.0), (None, 0.0)],
        "x long, y double",
    )
    rows = with_zorder_value(df, ["x", "y"], bits=8).collect()
    assert len(rows) == 4
    zmax = (1 << 16) - 1
    for r in rows:
        assert r["__zvalue"] is not None and 0 <= r["__zvalue"] <= zmax
    # nulls scale to 0 in that dimension; the all-extreme row tops out
    by_x = {r["x"]: r["__zvalue"] for r in rows}
    assert by_x[100] != by_x[-100]

    # constant column (span 0): z-order degrades to the other dim only,
    # never divides by zero
    const = spark.createDataFrame([(1, 7.0), (2, 7.0)], "x long, y double")
    zs = {r["x"]: r["__zvalue"] for r in
          with_zorder_value(const, ["x", "y"], bits=8).collect()}
    assert zs[1] != zs[2]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="signed long"):
        with_zorder_value(df, ["x", "y"], bits=32)


def test_backend_is_recorded(capsys):
    """CI output records which commit protocol the suite exercised:
    real Delta when delta-spark is installed (pyproject extra
    ``delta``), the delta-log-parquet emulation otherwise. Every
    ManagedTable code path branches on session.HAVE_DELTA, so the
    SAME suite covers both backends — this pins which one ran."""
    from ecom_churn_lakehouse_spark.session import HAVE_DELTA
    from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable

    assert ManagedTable.BACKEND == (
        "delta" if HAVE_DELTA else "delta-log-parquet"
    )
    print(f"\nmanaged-table backend under test: {ManagedTable.BACKEND}")


# --------------------------------- multi-writer optimistic concurrency


def test_cas_claim_is_exclusive(spark, tmp_path):
    """Claiming a version hard-links the whole action file to
    ``_delta_log/{v:020d}.json``: a second claim of the same version
    fails and leaves the winner's file as it was."""
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))  # v0
    s1 = t._stage(spark.createDataFrame([Row(k="a", v=2)]), None)
    s2 = t._stage(spark.createDataFrame([Row(k="a", v=3)]), None)
    info = {"operation": "WRITE", "operationParameters": {}, "operationMetrics": {}}
    ldir = os.path.join(t.path, "_delta_log")
    assert t._try_commit(1, s1, None, info) is True
    with open(os.path.join(ldir, f"{1:020d}.json")) as f:
        claimed = f.read()
    assert t._try_commit(1, s2, None, info) is False  # conflict detected
    with open(os.path.join(ldir, f"{1:020d}.json")) as f:
        assert f.read() == claimed
    info1 = json.loads(claimed.splitlines()[0])["commitInfo"]
    assert info1["snapshotDir"] == os.path.basename(s1)
    assert not [fn for fn in os.listdir(ldir) if fn.endswith(".tmp")]
    shutil.rmtree(s2)
    assert {r["v"] for r in t.read().collect()} == {2}
    assert t.versions() == [0, 1]


def test_concurrent_merges_serializable_no_lost_update(spark, tmp_path):
    """Two threads race MERGEs against the same table (overlapping AND
    disjoint keys). The loser must detect the conflict, re-read the
    winner's snapshot and re-apply — so BOTH writers' disjoint upserts
    survive (no lost update) and the overlap keys belong entirely to
    one writer (serializable, not interleaved)."""
    import threading

    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(
        spark.createDataFrame(
            [Row(k=i, val=0, who="base") for i in range(10)]
        )
    )
    barrier = threading.Barrier(2)
    errors = []

    def writer(name, keys):
        try:
            src = spark.createDataFrame(
                [Row(k=k, val=1, who=name) for k in keys]
            )
            barrier.wait(timeout=30)
            t.merge(src)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append((name, exc))

    th1 = threading.Thread(target=writer, args=("w1", [0, 1, 2, 3, 4]))
    th2 = threading.Thread(target=writer, args=("w2", [3, 4, 5, 6, 7]))
    th1.start(); th2.start()
    th1.join(120); th2.join(120)
    assert not errors, errors
    rows = {r["k"]: r for r in t.read().collect()}
    assert set(rows) == set(range(10))
    # disjoint upserts of BOTH writers landed — no lost update
    assert all(rows[k]["who"] == "w1" for k in (0, 1, 2))
    assert all(rows[k]["who"] == "w2" for k in (5, 6, 7))
    assert all(rows[k]["who"] == "base" for k in (8, 9))
    # overlap keys: one writer owns both (serializable order, not a mix)
    assert rows[3]["who"] == rows[4]["who"]
    assert rows[3]["who"] in {"w1", "w2"}
    # the log recorded three distinct committed versions
    assert [h["version"] for h in t.history()] == [2, 1, 0]


def test_append_racing_append_keeps_both(spark, tmp_path):
    import threading

    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k=-1, v=0)]))
    barrier = threading.Barrier(2)
    errors = []

    def appender(lo):
        try:
            src = spark.createDataFrame(
                [Row(k=lo + i, v=1) for i in range(3)]
            )
            barrier.wait(timeout=30)
            t.append(src)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    ths = [
        threading.Thread(target=appender, args=(0,)),
        threading.Thread(target=appender, args=(100,)),
    ]
    for th in ths:
        th.start()
    for th in ths:
        th.join(120)
    assert not errors, errors
    ks = sorted(r["k"] for r in t.read().collect())
    assert ks == [-1, 0, 1, 2, 100, 101, 102]


# ------------------------------------------------ claims and vacuum


def test_claim_file_is_never_observed_empty(spark, tmp_path):
    """The claim is an os.link of a fully written temp file: a poller
    reading the log while commits land never sees a missing, empty or
    partial action file."""
    import threading
    import time

    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))
    ldir = os.path.join(t.path, "_delta_log")
    seen, bad, done = set(), [], threading.Event()

    def poll():
        while True:
            last_pass = done.is_set()  # one full pass after the last commit
            for fn in os.listdir(ldir):
                if not fn.endswith(".json"):
                    continue
                with open(os.path.join(ldir, fn)) as f:
                    text = f.read()
                try:
                    actions = [json.loads(line) for line in text.splitlines()]
                    whole = (
                        text.endswith("\n")
                        and "commitInfo" in actions[0]
                        and "add" in actions[-1]
                    )
                except (ValueError, IndexError):
                    whole = False
                if not whole:
                    bad.append((fn, text))
                seen.add(fn)
            if last_pass:
                return
            time.sleep(0.002)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        for v in range(2, 5):
            t.merge(spark.createDataFrame([Row(k="a", v=v)]))
    finally:
        done.set()
        poller.join(30)
    assert not poller.is_alive()
    assert not bad, bad
    assert seen == {f"{v:020d}.json" for v in range(4)}


def test_delayed_vacuum_keeps_newer_snapshots(spark, tmp_path):
    """The vacuum of commit N deletes only the dir commit N-2 names, so
    one that runs late — after N+1 committed — keeps the dirs of N and
    N+1."""
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))  # v0
    for v in (2, 3, 4):                                      # v1..v3
        t.merge(spark.createDataFrame([Row(k="a", v=v)]))
    t._vacuum(2)  # commit 2's vacuum, replayed after commit 3
    assert t.versions() == [2, 3]
    assert {r["v"] for r in t.read(2).collect()} == {3}
    assert {r["v"] for r in t.read().collect()} == {4}


def test_merge_gated_reads_seq_before_snapshot(spark, tmp_path):
    """A gated merge resolves its base version and the dir it names
    once per attempt, and claims base + 1. A commit that lands right
    after that resolution makes the claim fail and the retry restage on
    the winner, so both merges survive."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="base", v=0)]))
    other = ManagedTable(spark, path, keys=["k"])
    fired = {"done": False}
    real_dir = t._snapshot_dir

    def dir_with_interleaved_commit(version):
        base = real_dir(version)
        if not fired["done"]:
            fired["done"] = True
            other.merge(spark.createDataFrame([Row(k="intruder", v=9)]))
        return base

    t._snapshot_dir = dir_with_interleaved_commit
    checks = [{"name": "v_not_null", "type": "not_null",
               "columns": ["v"], "severity": "critical"}]
    report = t.merge(
        spark.createDataFrame([Row(k="mine", v=1)]), checks=checks
    ).report
    assert report.ok
    out = {r["k"]: r["v"] for r in t.read().collect()}
    # NO lost update: the interleaved merge and the gated merge both land
    assert out == {"base": 0, "intruder": 9, "mine": 1}


# ------------------------------------------------------- the delta log


def test_delta_log_mirrors_every_commit(spark, tmp_path):
    """Each commit is a Delta-protocol action file; replaying
    protocol/metaData/add/remove reconstructs exactly the live snapshot
    (paths, schema, partition columns)."""
    import pyspark.sql.types as T

    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    t.merge(spark.createDataFrame([Row(k="a", v=10), Row(k="c", v=3)]))
    t.merge(spark.createDataFrame([Row(k="d", v=4)]))
    ldir = os.path.join(path, "_delta_log")
    logs = sorted(f for f in os.listdir(ldir) if f.endswith(".json"))
    assert logs == [f"{i:020d}.json" for i in range(3)]
    # version 0 carries protocol + metaData
    import json as _json
    with open(os.path.join(ldir, logs[0])) as f:
        acts0 = [_json.loads(line) for line in f if line.strip()]
    assert any("protocol" in a for a in acts0)
    meta0 = [a["metaData"] for a in acts0 if "metaData" in a]
    assert meta0 and meta0[0]["format"]["provider"] == "parquet"
    # full replay == live state
    meta, active = t.delta_log_state()
    schema = T.StructType.fromJson(_json.loads(meta["schemaString"]))
    assert set(schema.fieldNames()) == {"k", "v"}
    live = {os.path.relpath(f.replace("file:", ""), path)
            for f in t.read().inputFiles()}
    assert set(active) == live
    # reading exactly the active files reproduces the table
    got = {
        r["k"]: r["v"]
        for r in spark.read.parquet(
            *[os.path.join(path, p) for p in sorted(active)]
        ).collect()
    }
    assert got == {"a": 10, "b": 2, "c": 3, "d": 4}


def test_delta_log_partitioned_add_actions(spark, tmp_path):
    """Partitioned snapshots record partitionValues per add action and
    the metaData's partitionColumns."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"])
    t.overwrite(
        spark.createDataFrame(
            [Row(k="a", part="x", v=1), Row(k="b", part="y", v=2)]
        ),
        partition_by=["part"],
    )
    meta, active = t.delta_log_state()
    assert meta["partitionColumns"] == ["part"]
    pvals = sorted(a["partitionValues"].get("part") for a in active.values())
    assert pvals == ["x", "y"]
    for a in active.values():
        assert a["size"] > 0 and a["dataChange"] is True


def test_delta_log_replay_matches_time_travel(spark, tmp_path):
    """Replaying the log up to version N reconstructs the SAME file set
    the retained snapshot for commit N holds (the emulation's
    versionAsOf)."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))
    t.merge(spark.createDataFrame([Row(k="a", v=2)]))
    _, active_v0 = t.delta_log_state(0)
    assert t.versions() == [0, 1]
    old = {r["v"] for r in spark.read.parquet(
        *[os.path.join(path, p) for p in active_v0]).collect()}
    assert old == {1}
    assert {r["v"] for r in t.read(0).collect()} == {1}
    live = {os.path.relpath(f.replace("file:", ""), path)
            for f in t.read(0).inputFiles()}
    assert live == set(active_v0)


def test_read_resolves_through_delta_log(spark, tmp_path):
    """The log is the only commit record: read() scans the snapshot dir
    the newest commitInfo names and read(v) the one commit v names,
    including after MERGE rewrites."""
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    t.merge(spark.createDataFrame([Row(k="a", v=10), Row(k="c", v=3)]))
    newest = {r["k"]: r["v"] for r in t.read().collect()}
    assert newest == {r["k"]: r["v"] for r in t.read(1).collect()}
    assert newest == {"a": 10, "b": 2, "c": 3}
    # time travel to log version 0
    v0 = {r["k"]: r["v"] for r in t.read(0).collect()}
    assert v0 == {"a": 1, "b": 2}


def test_history_lists_commits_newest_first(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))
    t.merge(spark.createDataFrame([Row(k="a", v=2)]))
    h = t.history()
    assert [e["version"] for e in h] == [1, 0]
    assert [e["operation"] for e in h] == ["MERGE", "WRITE"]
    assert all(isinstance(e["timestamp"], int) for e in h)


def test_checkpoint_written_at_interval_and_pointer(spark, tmp_path):
    """Every Nth commit writes a protocol checkpoint parquet plus the
    _last_checkpoint pointer with the right version."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=2)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))          # v0
    assert t.last_checkpoint() is None
    t.merge(spark.createDataFrame([Row(k="b", v=2)]))              # v1
    assert t.last_checkpoint() is None
    t.merge(spark.createDataFrame([Row(k="c", v=3)]))              # v2
    ck = t.last_checkpoint()
    assert ck is not None and ck["version"] == 2
    ldir = os.path.join(path, "_delta_log")
    assert os.path.exists(
        os.path.join(ldir, f"{2:020d}.checkpoint.parquet")
    )
    t.merge(spark.createDataFrame([Row(k="d", v=4)]))              # v3
    t.merge(spark.createDataFrame([Row(k="e", v=5)]))              # v4
    assert t.last_checkpoint()["version"] == 4


def test_checkpoint_replay_survives_pruned_json_log(spark, tmp_path):
    """A reader must reconstruct the table from checkpoint + suffix
    JSON commits alone — delete every pre-checkpoint JSON file and the
    log replay still produces the exact live state (the protocol's
    whole point: replay is O(commits since checkpoint))."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=2)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1), Row(k="b", v=2)]))
    t.merge(spark.createDataFrame([Row(k="a", v=10)]))             # v1
    t.merge(spark.createDataFrame([Row(k="c", v=3)]))              # v2 ckpt
    t.merge(spark.createDataFrame([Row(k="d", v=4)]))              # v3
    ldir = os.path.join(path, "_delta_log")
    for v in (0, 1, 2):
        os.remove(os.path.join(ldir, f"{v:020d}.json"))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 10, "b": 2, "c": 3, "d": 4}
    meta, active = t.delta_log_state()
    assert meta is not None and active


def test_checkpoint_time_travel_consistency(spark, tmp_path):
    """Log-replay time travel must give the same state whether it
    starts from a checkpoint or replays raw JSON from zero."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=2)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))          # v0
    t.merge(spark.createDataFrame([Row(k="b", v=2)]))              # v1
    t.merge(spark.createDataFrame([Row(k="a", v=9)]))              # v2 ckpt
    t.merge(spark.createDataFrame([Row(k="c", v=3)]))              # v3
    # target BELOW the checkpoint: replay must ignore the checkpoint
    # (state-level comparison only — v1's data files are vacuumed
    # under keep-last-2, exactly like a Delta VACUUM past retention)
    meta1, active1 = t.delta_log_state(1)
    meta1_js, active1_js = ManagedTable(
        spark, path, keys=["k"], checkpoint_interval=0
    ).delta_log_state(1)
    assert active1 == active1_js and meta1 == meta1_js
    # target at a RETAINED version reads through the checkpoint path
    got2 = {r["k"]: r["v"] for r in t.read(2).collect()}
    assert got2 == {"a": 9, "b": 2}
    # target AT the checkpoint: both paths must agree exactly
    meta_ck, active_ck, _ = t._read_checkpoint(2)
    meta_js, active_js = ManagedTable(
        spark, path, keys=["k"], checkpoint_interval=0
    ).delta_log_state(2)
    assert active_ck == active_js
    assert meta_ck["schemaString"] == meta_js["schemaString"]
    assert meta_ck["partitionColumns"] == meta_js["partitionColumns"]


def test_checkpoint_schema_has_full_delta_action_columns(spark, tmp_path):
    """Strict Delta clients (delta-rs / delta-spark)
    reconstruct metaData from the checkpoint and expect the protocol's
    full column set — remove/txn action columns present (all-null in a
    snapshot checkpoint) and metaData carrying format / configuration /
    name / description, not just id+schema."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=2)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))          # v0
    t.merge(spark.createDataFrame([Row(k="b", v=2)]))              # v1
    t.merge(spark.createDataFrame([Row(k="c", v=3)]))              # v2 ckpt
    ck = os.path.join(path, "_delta_log", f"{2:020d}.checkpoint.parquet")
    table = pq.read_table(ck)
    names = set(table.schema.names)
    assert {"protocol", "metaData", "add", "remove", "txn"} <= names
    md_fields = {
        f.name for f in table.schema.field("metaData").type
    }
    assert {
        "id", "name", "description", "format", "schemaString",
        "partitionColumns", "configuration", "createdTime",
    } <= md_fields
    rows = table.to_pylist()
    # snapshot checkpoints carry live state only: remove/txn all-null
    assert all(r["remove"] is None and r["txn"] is None for r in rows)
    md = next(r["metaData"] for r in rows if r["metaData"] is not None)
    assert md["format"]["provider"] == "parquet"
    # and the round-trip reader uses the stored format, not a default
    meta, active, _ = t._read_checkpoint(2)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    assert meta["configuration"] == {}
    assert len(active) >= 1


def test_interval_zero_reader_is_genuinely_checkpoint_free(
    spark, tmp_path
):
    """checkpoint_interval<=0 must disable checkpoint
    READING too, so a raw-JSON control replay never compares a
    checkpoint to itself. Proof: corrupt the checkpoint file on disk —
    the interval=0 reader still reconstructs the exact state (it never
    opens the checkpoint), while a checkpoint-consulting reader would
    crash."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=2)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))          # v0
    t.merge(spark.createDataFrame([Row(k="b", v=2)]))              # v1
    t.merge(spark.createDataFrame([Row(k="a", v=9)]))              # v2 ckpt
    ck = os.path.join(path, "_delta_log", f"{2:020d}.checkpoint.parquet")
    with open(ck, "wb") as f:
        f.write(b"not parquet")
    raw = ManagedTable(spark, path, keys=["k"], checkpoint_interval=0)
    meta, active = raw.delta_log_state(2)
    assert meta is not None and len(active) >= 1
    got = {
        r["k"]: r["v"] for r in raw.read(2).collect()
    }
    assert got == {"a": 9, "b": 2}
    # the checkpoint-consulting path, by contrast, does open the file
    with pytest.raises(Exception):
        t.delta_log_state(2)
    # explicit override beats the instance default in both directions
    meta2, active2 = t.delta_log_state(2, use_checkpoint=False)
    assert active2 == active


def test_failed_checkpoint_write_does_not_abort_commit(
    spark, tmp_path, monkeypatch
):
    """The checkpoint is a read-path optimization — a crash inside
    _write_checkpoint must not abort the publish (the JSON commit is
    already claimed); the table still advances and the data is
    readable."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=1)

    def boom(version):
        raise OSError("disk full while writing checkpoint")

    monkeypatch.setattr(t, "_write_checkpoint", boom)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))          # v0
    t.merge(spark.createDataFrame([Row(k="b", v=2)]))       # v1: boom
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2}
    # no checkpoint materialized, log replay still exact
    ldir = os.path.join(path, "_delta_log")
    assert not any(
        fn.endswith(".checkpoint.parquet") for fn in os.listdir(ldir)
    )
    got_log = {r["k"]: r["v"] for r in t.read(1).collect()}
    assert got_log == got
    _, active = t.delta_log_state()
    live = {os.path.relpath(f.replace("file:", ""), path)
            for f in t.read().inputFiles()}
    assert set(active) == live


def test_old_checkpoints_are_pruned_keep_last_two(spark, tmp_path):
    """_delta_log retains only the 2 newest checkpoint
    parquets (older ones are superseded; raw JSON replay from zero
    still covers any earlier time-travel target)."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=1)
    t.overwrite(spark.createDataFrame([Row(k="a", v=1)]))          # v0
    for i in range(1, 6):                                     # v1..v5
        t.merge(spark.createDataFrame([Row(k=f"k{i}", v=i)]))
    ldir = os.path.join(path, "_delta_log")
    ckpts = sorted(
        fn for fn in os.listdir(ldir)
        if fn.endswith(".checkpoint.parquet")
    )
    assert ckpts == [
        f"{4:020d}.checkpoint.parquet",
        f"{5:020d}.checkpoint.parquet",
    ]
    assert t.last_checkpoint()["version"] == 5
    # time travel BELOW the oldest retained checkpoint still resolves
    # via raw JSON replay from zero (state-level only: v2's data files
    # are vacuumed under keep-last-2 snapshot retention, exactly like
    # a Delta VACUUM past the retention window)
    meta2, active2 = t.delta_log_state(2)
    assert meta2 is not None and len(active2) >= 1
    meta2_raw, active2_raw = t.delta_log_state(2, use_checkpoint=False)
    assert active2 == active2_raw


def test_checkpoint_roundtrips_external_name_description(spark, tmp_path):
    """_read_checkpoint must reconstruct metaData name /
    description, not just id+schema — a checkpoint written FROM
    checkpoint-recovered state would otherwise null out fields an
    external writer (real delta-spark sets them via table properties)
    put in the log."""
    import json as _json

    path = str(tmp_path / "t")
    # phase 1: checkpoint-free history, then an "external writer" adds
    # name/description to the commit-0 metaData action on disk
    t0 = ManagedTable(spark, path, keys=["k"], checkpoint_interval=0)
    t0.overwrite(spark.createDataFrame([Row(k="a", v=1)]))         # v0
    t0.merge(spark.createDataFrame([Row(k="b", v=2)]))             # v1
    ldir = os.path.join(path, "_delta_log")
    f0 = os.path.join(ldir, f"{0:020d}.json")
    lines = []
    with open(f0) as f:
        for line in f:
            a = _json.loads(line)
            if "metaData" in a:
                a["metaData"]["name"] = "ext_orders"
                a["metaData"]["description"] = "set by external writer"
            lines.append(_json.dumps(a, separators=(",", ":")))
    with open(f0, "w") as f:
        f.write("\n".join(lines) + "\n")
    # phase 2: checkpoint v2 is built by full JSON replay -> carries
    # the external fields
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=1)
    t.merge(spark.createDataFrame([Row(k="c", v=3)]))              # v2 ckpt
    meta2, _, _ = t._read_checkpoint(2)
    assert meta2["name"] == "ext_orders"
    assert meta2["description"] == "set by external writer"
    # phase 3: checkpoint v3 is built FROM checkpoint-v2-recovered
    # state (delta_log_state reads through the checkpoint) — the
    # fields must survive the second generation too
    t.merge(spark.createDataFrame([Row(k="d", v=4)]))              # v3 ckpt
    meta3, active3, _ = t._read_checkpoint(3)
    assert meta3["name"] == "ext_orders"
    assert meta3["description"] == "set by external writer"
    assert len(active3) >= 1


# ------------------------------------------- add-only appends and txns


def _files(snapshot):
    return {
        os.path.relpath(os.path.join(root, f), snapshot)
        for root, _, names in os.walk(snapshot)
        for f in names
        if f.endswith(".parquet")
    }


def test_append_links_base_files_and_writes_only_new_rows(spark, tmp_path):
    """Each append carries its base snapshot's files by hard link (same
    inode, same relative path) and writes files for its own rows only;
    the oldest snapshot dir being vacuumed leaves the table whole, and
    the retained previous snapshot still reads as it was."""
    import pyarrow.parquet as pq

    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    batch = lambda i: spark.range(2).select(  # noqa: E731
        (F.col("id") + 10 * i).alias("k"),
        F.to_date(F.lit(f"2025-01-0{1 + i % 2}")).alias("d"),
    )
    t.append(batch(0), partition_by=["d"])
    for i in range(1, 4):
        base = _head(t)
        c = t.append(batch(i), partition_by=["d"])
        head = _head(t)
        carried, new = _files(base), _files(head) - _files(base)
        assert carried <= _files(head)
        for rel in carried:
            assert os.stat(os.path.join(head, rel)).st_ino == os.stat(
                os.path.join(base, rel)
            ).st_ino
        assert sum(pq.read_metadata(os.path.join(head, f)).num_rows for f in new) == 2
        assert c.metrics["numSourceRows"] == 2
        assert c.metrics["numOutputRows"] == 2 * (i + 1)
    assert len(t.versions()) == 2  # the first snapshots were vacuumed
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 10, 11, 20, 21, 30, 31]
    prev = t.read(t.versions()[0])
    assert sorted(r["k"] for r in prev.collect()) == [0, 1, 10, 11, 20, 21]
    assert t.read().columns == ["k", "d"]


def test_append_evolves_partitioned_table_and_keeps_layout(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.append(spark.createDataFrame([(1, "x")], "k int, p string"), partition_by=["p"])
    t.append(
        spark.createDataFrame([("y", 2, 2.5)], "p string, k int, score double"),
        partition_by=["p"],
        evolve_schema=True,
    )
    assert t.read().columns == ["k", "score", "p"]
    scanned = spark.read.option("mergeSchema", "true").parquet(_head(t))
    assert t.read().schema == scanned.schema
    assert {(r["k"], r["score"], r["p"]) for r in t.read().collect()} == {
        (1, None, "x"),
        (2, 2.5, "y"),
    }
    head = _head(t)
    with pytest.raises(ValueError, match="evolve_schema"):
        t.append(spark.createDataFrame([(3, "z")], "k int, p string"), partition_by=["p"])
    with pytest.raises(ValueError, match="partition columns"):
        t.append(spark.createDataFrame([(3, 1.0, "z")], "k int, score double, p string"))
    assert _head(t) == head


def test_append_txn_ids_are_read_from_checkpoint_and_json_tail(spark, tmp_path):
    """``append(txn_id=)`` writes a Delta txn action; ``transactions()``
    finds it in a checkpoint's txn rows and in the JSON commits after
    it, also once the pre-checkpoint JSON files are gone."""
    path = str(tmp_path / "t")
    t = ManagedTable(spark, path, keys=["k"], checkpoint_interval=2)
    for i, txn in enumerate(("fp-a", None, "fp-b", "fp-c")):  # v2 checkpoints
        t.append(spark.createDataFrame([(i,)], "k int"), txn_id=txn)
    assert set(t.transactions()) == {"fp-a", "fp-b", "fp-c"}
    assert t.transactions()["fp-b"]["version"] == 2
    ldir = os.path.join(path, "_delta_log")
    for v in (0, 1, 2):
        os.remove(os.path.join(ldir, f"{v:020d}.json"))
    assert set(t.transactions()) == {"fp-a", "fp-b", "fp-c"}
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 3]


# ------------------------------------------------- merge(order_by=...)


def test_merge_order_by_picks_first_row_per_key(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    t.overwrite(spark.createDataFrame([("a", 0, 0), ("z", 0, 0)], "k string, v int, ts int"))
    src = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 3), ("a", 3, 2), ("b", 4, 1), ("b", 5, 2), ("c", 6, 1)],
        "k string, v int, ts int",
    )
    c = t.merge(src, order_by=[F.col("ts").desc()])
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 2, "b": 5, "c": 6, "z": 0}
    assert c.metrics["numSourceRows"] == 6  # every source row, losers too
    assert c.metrics["numTargetRowsUpdated"] == 1
    assert c.metrics["numTargetRowsInserted"] == 2
    assert c.report.row_count == 3
    t.merge(src, order_by=[F.col("ts").asc()])
    assert {r["k"]: r["v"] for r in t.read().collect()} == {"a": 1, "b": 4, "c": 6, "z": 0}


def test_merge_order_by_gates_see_winners_only(spark, tmp_path):
    from ecom_churn_lakehouse_spark.sources.managed_table import MergeBlocked

    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    checks = [
        {"name": "pk_unique", "type": "unique", "keys": ["k"]},
        {"name": "v_not_null", "type": "not_null", "columns": ["v"]},
    ]
    # the losers repeat the key and carry a NULL v; only winners count
    src = spark.createDataFrame(
        [("a", 1, 2), ("a", None, 1), ("b", 2, 1), ("b", None, 0)], "k string, v int, ts int"
    )
    c = t.merge(src, checks=checks, order_by=[F.col("ts").desc()])
    assert c.report.ok and c.report.row_count == 2
    assert [(r.name, r.bad_rows) for r in c.report.results] == [("pk_unique", 0), ("v_not_null", 0)]
    assert c.metrics["numSourceRows"] == 4
    # a NULL winner fails its gate and publishes nothing
    head, versions = _head(t), t.versions()
    with pytest.raises(MergeBlocked, match="v_not_null") as blocked:
        t.merge(src, checks=checks, order_by=[F.col("ts").asc()])
    assert blocked.value.report.row_count == 2
    # without order_by a repeated key is refused, HEAD untouched
    with pytest.raises(MergeBlocked, match="not unique"):
        t.merge(src, checks=checks)
    assert _head(t) == head and t.versions() == versions


def test_merge_order_by_with_delta_dedups_then_merges(spark, tmp_path, monkeypatch):
    """The delta-spark backend deduplicates with ``dedup_top1`` on the
    order, gates the winners, then runs MERGE on them (a stand-in
    DeltaTable records the MERGE source; no delta-spark here)."""
    import sys
    import types

    import ecom_churn_lakehouse_spark.sources.managed_table as mt

    calls = []

    class FakeMerge:
        def __init__(self, source):
            calls.append(("merge", sorted(tuple(r) for r in source.collect())))

        def whenMatchedUpdateAll(self):
            return self

        def whenNotMatchedInsertAll(self):
            return self

        def execute(self):
            calls.append(("execute",))

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(spark, path):
            return True

        @staticmethod
        def forPath(spark, path):
            return FakeDeltaTable()

        def alias(self, name):
            return self

        def merge(self, source, cond):
            return FakeMerge(source)

    def dedup(df, keys, order_by):
        calls.append(("dedup_top1", keys))
        return mt_dedup(df, keys, order_by)

    mt_dedup = mt.dedup_top1
    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))
    monkeypatch.setitem(
        sys.modules, "delta.tables", types.SimpleNamespace(DeltaTable=FakeDeltaTable)
    )
    monkeypatch.setattr(mt, "HAVE_DELTA", True)
    monkeypatch.setattr(mt, "dedup_top1", dedup)
    t = ManagedTable(spark, str(tmp_path / "t"), keys=["k"])
    monkeypatch.setattr(t, "_delta_commit", lambda report=None: mt.Commit(1, "MERGE", {}, report))
    src = spark.createDataFrame([("a", 1, 1), ("a", 2, 2), ("b", 3, 1)], "k string, v int, ts int")
    c = t.merge(
        src,
        checks=[{"name": "pk_unique", "type": "unique", "keys": ["k"]}],
        order_by=[F.col("ts").desc()],
    )
    assert calls == [
        ("dedup_top1", ["k"]),
        ("merge", [("a", 2, 2), ("b", 3, 1)]),
        ("execute",),
    ]
    assert c.report.ok and c.report.row_count == 2
