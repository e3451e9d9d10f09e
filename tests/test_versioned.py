"""Versioned parquet table (A38): time travel, snapshot isolation,
partition-scoped upserts by reference, conflict detection."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from dbeam_spark.operators.versioned import (
    SnapshotConflictError,
    commit_snapshot,
    commit_upsert,
    history,
    read_snapshot,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, day string")


def test_time_travel_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = commit_snapshot(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]), t, "day")
    v2 = commit_upsert(
        spark, t, _df(spark, [(2, "B", "d2"), (3, "c", "d2")]), "k", "day"
    )
    assert (v1, v2) == (1, 2)
    latest = {
        (r["k"], r["v"]) for r in read_snapshot(spark, t).collect()
    }
    assert latest == {(1, "a"), (2, "B"), (3, "c")}
    # time travel: v1 still exactly as committed
    old = {(r["k"], r["v"]) for r in read_snapshot(spark, t, version=1).collect()}
    assert old == {(1, "a"), (2, "b")}
    h = history(t)
    assert [x["version"] for x in h] == [2, 1]
    assert h[0]["op"] == "upsert"


def test_upsert_carries_untouched_partitions_by_reference(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]), t, "day")
    commit_upsert(spark, t, _df(spark, [(9, "z", "d2")]), "k", "day")
    m1 = json.loads((Path(t) / "_manifests" / "v00001.json").read_text())
    m2 = json.loads((Path(t) / "_manifests" / "v00002.json").read_text())
    d1_v1 = {f["path"] for f in m1["files"] if f["partition"] == "d1"}
    d1_v2 = {f["path"] for f in m2["files"] if f["partition"] == "d1"}
    assert d1_v1 == d1_v2 and d1_v1  # same physical files, no rewrite
    d2_v2 = {f["path"] for f in m2["files"] if f["partition"] == "d2"}
    assert d2_v2.isdisjoint({f["path"] for f in m1["files"]})


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [(1, "a", "d1")]), t, "day")
    reader_v = 1
    before = read_snapshot(spark, t, version=reader_v)
    commit_upsert(spark, t, _df(spark, [(1, "MUTATED", "d1")]), "k", "day")
    # the in-flight reader's snapshot is untouched by the new commit
    assert [r["v"] for r in before.collect()] == ["a"]


def test_conflicting_writers_detected(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [(1, "a", "d1")]), t, "day")
    # simulate a racing writer that already created v2's manifest
    (Path(t) / "_manifests" / "v00002.json").write_text("{}")
    with pytest.raises(SnapshotConflictError):
        commit_upsert(spark, t, _df(spark, [(2, "b", "d1")]), "k", "day")


def test_upsert_with_escaped_partition_values(spark, tmp_path):
    """Spark percent-escapes special chars (space, ':') in partition
    directory names; the manifest must store the DECODED value so a
    later upsert recognizes the partition as touched instead of
    carrying its old files AND adding the rewrite (row duplication)."""
    t = str(tmp_path / "tbl")
    rows = [(1, "a", "2024-01-01 10:00"), (2, "b", "plain")]
    commit_snapshot(_df(spark, rows), t, "day")
    m1 = json.loads((Path(t) / "_manifests" / "v00001.json").read_text())
    assert {f["partition"] for f in m1["files"]} == {"2024-01-01 10:00", "plain"}
    commit_upsert(
        spark, t, _df(spark, [(1, "A", "2024-01-01 10:00")]), "k", "day"
    )
    got = sorted(
        (r["k"], r["v"], r["day"]) for r in read_snapshot(spark, t).collect()
    )
    assert got == [(1, "A", "2024-01-01 10:00"), (2, "b", "plain")]


def test_upsert_with_integer_partition_column(spark, tmp_path):
    """Non-string partition columns must come back with their original
    type (the manifest records it), not as a string literal."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, v string, bucket int"
    )
    commit_snapshot(df, t, "bucket")
    commit_upsert(
        spark, t,
        spark.createDataFrame([(2, "B", 20)], "k long, v string, bucket int"),
        "k", "bucket",
    )
    snap = read_snapshot(spark, t)
    assert dict(snap.dtypes)["bucket"] == "int"
    got = sorted((r["k"], r["v"], r["bucket"]) for r in snap.collect())
    assert got == [(1, "a", 10), (2, "B", 20)]


def test_unpartitioned_table(spark, tmp_path):
    t = str(tmp_path / "flat")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    commit_snapshot(df, t)
    got = {(r["k"], r["v"]) for r in read_snapshot(spark, t).collect()}
    assert got == {(1, "x"), (2, "y")}


def test_schema_evolution_on_upsert(spark, tmp_path):
    """Additive schema evolution (the table-format contract): an
    upsert introducing a new column succeeds, carried/old rows read
    back with NULL in it, and time travel to v1 still shows v1's
    schema."""
    t = str(tmp_path / "tbl")
    commit_snapshot(_df(spark, [(1, "a", "d1"), (2, "b", "d2")]), t, "day")
    evolved = spark.createDataFrame(
        [(2, "B", "d2", "extra")],
        "k long, v string, day string, note string",
    )
    commit_upsert(spark, t, evolved, "k", "day")
    latest = read_snapshot(spark, t)
    assert "note" in latest.columns
    got = {(r["k"], r["v"], r["note"]) for r in latest.collect()}
    assert got == {(1, "a", None), (2, "B", "extra")}
    v1 = read_snapshot(spark, t, version=1)
    assert "note" not in v1.columns
    # the reverse direction: an upsert MISSING a column the table has
    commit_upsert(
        spark, t,
        spark.createDataFrame([(3, "c", "d1")], "k long, v string, day string"),
        "k", "day",
    )
    latest2 = read_snapshot(spark, t)
    by_k = {r["k"]: r["note"] for r in latest2.collect()}
    assert by_k[3] is None and by_k[2] == "extra"
