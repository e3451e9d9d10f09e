"""Incremental (CDC-style) export: watermark state, delta-only runs,
idempotent no-new-rows runs — end-to-end on embedded Derby."""

from __future__ import annotations

import glob
import json
from pathlib import Path

import tempfile

import pytest

from dbeam_spark.avro.reader import read_avro_file
from dbeam_spark.jobs.incremental_export import run_incremental
from dbeam_spark.options import JdbcExportOptions


@pytest.fixture(scope="module")
def incr_db(spark):
    """Private Derby db: this test APPENDS rows, so it must not share
    the session-scoped fixture other suites assume has 1000 rows."""
    dbdir = tempfile.mkdtemp(prefix="derby_incr_") + "/db"
    url = f"jdbc:derby:{dbdir};create=true"
    _append_rows(spark, url, 0, 1000, mode="overwrite")
    return f"jdbc:derby:{dbdir}"


def _opts(derby_db, out):
    return JdbcExportOptions(
        connectionUrl=derby_db,
        table="COFFEES",
        output=str(out),
        username="dbeam",
        skipPartitionCheck=True,
    )


def _rows_in(run_dir) -> list[tuple]:
    rows = []
    for p in sorted(glob.glob(str(run_dir) + "/part-*.avro")):
        rows.extend(read_avro_file(p)[1])
    return rows


def _append_rows(spark, derby_db, start, n, mode="append"):
    df = spark.range(start, start + n).selectExpr(
        "id AS C_ID",
        "CAST(id * 1.5 AS DOUBLE) AS AMOUNT",
        "CONCAT('name_', id) AS NAME",
        "timestamp_millis(1700000000000 + id * 1000) AS CREATED_AT",
        "id % 2 = 0 AS FLAG",
    )
    (
        df.write.format("jdbc")
        .option("url", derby_db)
        .option("user", "dbeam")
        .option("dbtable", "COFFEES")
        .mode(mode)
        .save()
    )


def test_incremental_runs(spark, incr_db, tmp_path):
    derby_db = incr_db
    out = tmp_path / "incr"

    r1 = run_incremental(spark, _opts(derby_db, out), "C_ID")
    assert not r1["skipped"] and r1["watermark"] == 999
    first = _rows_in(r1["run_dir"])
    assert len(first) == 1000
    assert (Path(r1["run_dir"]) / "_SUCCESS").exists()

    # no new rows -> skipped, no new run dir, watermark unchanged
    r2 = run_incremental(spark, _opts(derby_db, out), "C_ID")
    assert r2["skipped"] and r2["watermark"] == 999
    assert len(list(out.glob("run_*"))) == 1

    _append_rows(spark, derby_db, 1000, 100)
    r3 = run_incremental(spark, _opts(derby_db, out), "C_ID")
    assert not r3["skipped"] and r3["rows"] == 100 and r3["watermark"] == 1099
    third = _rows_in(r3["run_dir"])
    ids = sorted(r[0] for r in third)
    assert ids == list(range(1000, 1100))  # ONLY the delta

    state = json.loads((out / "_WATERMARK").read_text())
    assert state["column"] == "C_ID" and state["value"] == 1099
    assert [run["run"] for run in state["runs"]] == [0, 1]

    # generated SQL is window-bounded on both ends
    q = (Path(r3["run_dir"]) / "_queries" / "query_0.sql").read_text()
    assert "C_ID > 999" in q and "C_ID <= 1099" in q


def test_avro_load_round_trip(spark, incr_db, tmp_path):
    """export COFFEES → load into a new table → identical contents."""
    from dbeam_spark.jobs.avro_load_job import run_load
    from dbeam_spark.jobs.jdbc_avro_job import run_export

    out = tmp_path / "export"
    run_export(spark, _opts(incr_db, out))

    n = run_load(
        spark, str(out), incr_db, "COFFEES_RESTORED", username="dbeam",
        mode="overwrite",
    )
    back = (
        spark.read.format("jdbc")
        .option("url", incr_db)
        .option("user", "dbeam")
        .option("dbtable", "COFFEES_RESTORED")
        .load()
    )
    assert n == back.count()
    orig = (
        spark.read.format("jdbc")
        .option("url", incr_db)
        .option("user", "dbeam")
        .option("dbtable", "COFFEES")
        .load()
    )
    got = {tuple(r) for r in back.select("C_ID", "NAME", "AMOUNT").collect()}
    want = {tuple(r) for r in orig.select("C_ID", "NAME", "AMOUNT").collect()}
    assert got == want


def test_avro_load_refuses_incomplete(spark, tmp_path):
    import pytest as _pytest

    from dbeam_spark.jobs.avro_load_job import run_load

    (tmp_path / "no_success").mkdir()
    with _pytest.raises(ValueError, match="_SUCCESS"):
        run_load(spark, str(tmp_path / "no_success"), "jdbc:derby:x", "T")


def test_incremental_timestamp_watermark(spark, tmp_path):
    """Timestamp watermark column (quoted-literal path, dbeam's own
    partition-condition style) on a private Derby db."""
    dbdir = tempfile.mkdtemp(prefix="derby_ts_") + "/db"
    url = f"jdbc:derby:{dbdir};create=true"
    _append_rows(spark, url, 0, 50, mode="overwrite")
    derby = f"jdbc:derby:{dbdir}"

    out = tmp_path / "ts_incr"
    r1 = run_incremental(
        spark, _opts(derby, out), "CREATED_AT", numeric_watermark=False
    )
    assert not r1["skipped"] and len(_rows_in(r1["run_dir"])) == 50

    _append_rows(spark, derby, 50, 10)
    r2 = run_incremental(
        spark, _opts(derby, out), "CREATED_AT", numeric_watermark=False
    )
    assert not r2["skipped"] and r2["rows"] == 10
    ids = sorted(r[0] for r in _rows_in(r2["run_dir"]))
    assert ids == list(range(50, 60))

    r3 = run_incremental(
        spark, _opts(derby, out), "CREATED_AT", numeric_watermark=False
    )
    assert r3["skipped"]


def test_literal_escapes_quotes():
    from dbeam_spark.jobs.incremental_export import _literal

    assert _literal(42, numeric=True) == "42"
    assert _literal("2024-01-01", numeric=False) == "'2024-01-01'"
    # embedded quotes must not break (or inject into) the generated SQL
    assert _literal("O'Brien", numeric=False) == "'O''Brien'"


def test_retry_clears_stale_run_dir(spark, tmp_path):
    """A crash between _SUCCESS and the watermark save re-runs the same
    run_id; leftovers from the failed attempt (e.g. part files from a
    more-parallel first try) must not survive next to the retry's
    output."""
    dbdir = tempfile.mkdtemp(prefix="derby_retry_") + "/db"
    url = f"jdbc:derby:{dbdir};create=true"
    _append_rows(spark, url, 0, 20, mode="overwrite")
    derby = f"jdbc:derby:{dbdir}"
    out = tmp_path / "retry"

    r1 = run_incremental(spark, _opts(derby, out), "C_ID")
    assert not r1["skipped"]

    # simulate the crashed attempt: next run_id's dir already exists
    # with a stale part file and _SUCCESS (watermark was never saved)
    stale = out / "run_00001"
    stale.mkdir()
    (stale / "part-99999.avro").write_bytes(b"stale")
    (stale / "_SUCCESS").touch()
    # plus an in-progress temp dir from yet another attempt
    (out / "._run_00001.inprogress").mkdir()

    _append_rows(spark, derby, 20, 5)
    r2 = run_incremental(spark, _opts(derby, out), "C_ID")
    assert not r2["skipped"] and r2["rows"] == 5
    assert Path(r2["run_dir"]) == stale
    assert not (stale / "part-99999.avro").exists()
    assert not (out / "._run_00001.inprogress").exists()
    ids = sorted(r[0] for r in _rows_in(stale))
    assert ids == list(range(20, 25))


def test_join_view_maintenance_idempotent_replay(spark, tmp_path):
    """Re-running a completed maintenance index (the crash-recovery
    path) must be a byte-identical no-op: the numbered-overwrite
    design converges instead of double-counting."""
    import json

    from dbeam_spark.jobs.join_view_maintain import (
        STATE_FILE,
        maintain_join_view,
        read_join_view,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c")], ["k", "lv"]
    )
    right = spark.createDataFrame([(1, 10), (2, 20)], ["rk", "rv"])
    vd = str(tmp_path / "view")
    maintain_join_view(spark, vd, "k", "rk", left_delta=left,
                       right_delta=right.limit(1))
    maintain_join_view(spark, vd, "k", "rk",
                       right_delta=right.filter("rk = 2"))
    full = sorted(
        (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, vd).collect()
    )
    assert full == [(1, "a", 10), (2, "b", 20), (2, "c", 20)]

    # simulate a crash AFTER data writes but BEFORE the state advance:
    # roll the state back one step and re-apply the same call
    st = json.loads((tmp_path / "view" / STATE_FILE).read_text())
    st["next_idx"] -= 1
    (tmp_path / "view" / STATE_FILE).write_text(json.dumps(st))
    maintain_join_view(spark, vd, "k", "rk",
                       right_delta=right.filter("rk = 2"))
    replay = sorted(
        (r["k"], r["lv"], r["rv"]) for r in read_join_view(spark, vd).collect()
    )
    assert replay == full  # no double-count


def test_join_view_requires_both_schemas_first(spark, tmp_path):
    import pytest

    from dbeam_spark.jobs.join_view_maintain import maintain_join_view

    left = spark.createDataFrame([(1, "a")], ["k", "lv"])
    with pytest.raises(ValueError):
        maintain_join_view(
            spark, str(tmp_path / "v2"), "k", "rk", left_delta=left
        )
