"""End-to-end export tests on embedded Derby (the reference's
JdbcAvroJobTest does the same against H2)."""

from __future__ import annotations

import glob
import json
from pathlib import Path

import pytest

from dbeam_spark.avro.reader import read_avro_file
from dbeam_spark.errors import FailedValidationError, NotReadyError
from dbeam_spark.jobs.jdbc_avro_job import job_name, run_export
from dbeam_spark.options import JdbcExportOptions, parse_args
from dbeam_spark.sources.jdbc import driver_for_url, read_jdbc


def opts_for(derby_db, out, **kw):
    defaults = dict(
        connectionUrl=derby_db,
        table="COFFEES",
        output=str(out),
        username="dbeam",
        skipPartitionCheck=True,
    )
    defaults.update(kw)
    return JdbcExportOptions(**defaults)


def read_all(out) -> list[tuple]:
    rows = []
    for p in sorted(glob.glob(str(out) + "/part-*.avro")):
        rows.extend(read_avro_file(p)[1])
    return rows


def test_basic_export(spark, derby_db, tmp_path):
    out = tmp_path / "basic"
    metrics = run_export(spark, opts_for(derby_db, out))
    assert metrics["recordCount"] == 1000
    assert (out / "_SUCCESS").exists()
    assert (out / "_AVRO_SCHEMA.avsc").exists()
    assert (out / "_METRICS.json").exists()
    saved = json.loads((out / "_METRICS.json").read_text())
    assert saved["recordCount"] == 1000
    queries = sorted(glob.glob(str(out / "_queries" / "*.sql")))
    assert [Path(q).read_text().strip() for q in queries] == [
        "SELECT * FROM COFFEES WHERE 1=1"
    ]
    rows = read_all(out)
    assert len(rows) == 1000
    first = sorted(rows)[0]
    assert first[0] == 0 and first[2] == "name_0" and first[4] is True


def test_parallel_export_ranges(spark, derby_db, tmp_path):
    out = tmp_path / "parallel"
    metrics = run_export(
        spark,
        opts_for(derby_db, out, splitColumn="C_ID", queryParallelism=4),
    )
    assert metrics["recordCount"] == 1000
    queries = [
        Path(p).read_text().strip()
        for p in sorted(glob.glob(str(out / "_queries" / "*.sql")))
    ]
    # same range-split SQL the reference generates
    assert queries[0] == (
        "SELECT * FROM COFFEES WHERE 1=1 AND C_ID >= 0 AND C_ID < 250"
    )
    assert queries[-1] == (
        "SELECT * FROM COFFEES WHERE 1=1 AND C_ID >= 750 AND C_ID <= 999"
    )
    # 4 ranges → 4 avro files, no row lost or duplicated
    rows = read_all(out)
    assert sorted(r[0] for r in rows) == list(range(1000))


def test_bounds_probe_rejects_empty_table(spark, derby_db):
    """MIN/MAX over an empty table is one row of NULLs: dbeam reports
    it as no record, and so does the driver-side probe."""
    from dbeam_spark.sources.jdbc import _connect, find_input_bounds

    conn = _connect(spark, derby_db, "dbeam", None)
    try:
        conn.createStatement().execute("CREATE TABLE EMPTY_BOUNDS (ID BIGINT)")
    finally:
        conn.close()
    opts = opts_for(derby_db, "/tmp/unused", table="EMPTY_BOUNDS")
    with pytest.raises(ValueError, match="returned zero records"):
        find_input_bounds(
            spark, opts, None, "SELECT MIN(ID), MAX(ID) FROM EMPTY_BOUNDS"
        )


def test_parallel_export_negative_split_keys(spark, derby_db, tmp_path):
    """Negative split keys and one NULL key: the probe's bounds ignore
    the NULL, and the export still covers every row exactly once —
    Spark's first partition also takes the NULL keys and its last
    range is open-ended — while _queries/ records dbeam's range
    queries, which leave the NULL row out."""
    from dbeam_spark.sources.jdbc import find_input_bounds

    spark.range(-500, 250).selectExpr(
        "id AS K", "CONCAT('v', id) AS V"
    ).union(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS K, 'null key' AS V")
    ).write.format("jdbc").option("url", derby_db).option(
        "user", "dbeam"
    ).option("dbtable", "NEG_KEYS").mode("overwrite").save()
    opts = opts_for(
        derby_db, tmp_path / "neg", table="NEG_KEYS",
        splitColumn="K", queryParallelism=3,
    )
    assert find_input_bounds(
        spark, opts, None, "SELECT MIN(K), MAX(K) FROM NEG_KEYS"
    ) == (-500, 249)
    metrics = run_export(spark, opts)
    assert metrics["recordCount"] == 751
    queries = [
        Path(p).read_text().strip()
        for p in sorted(glob.glob(str(tmp_path / "neg" / "_queries" / "*.sql")))
    ]
    assert [q.split("WHERE 1=1")[1] for q in queries] == [
        " AND K >= -500 AND K < -250",
        " AND K >= -250 AND K < 0",
        " AND K >= 0 AND K <= 249",
    ]
    rows = read_all(tmp_path / "neg")
    assert [r for r in rows if r[0] is None] == [(None, "null key")]
    assert sorted(r[0] for r in rows if r[0] is not None) == list(
        range(-500, 250)
    )
    # one part file per Spark partition: (min key, max key, NULL keys)
    parts = []
    for p in sorted(glob.glob(str(tmp_path / "neg" / "part-*.avro"))):
        keys = [r[0] for r in read_avro_file(p)[1]]
        known = [k for k in keys if k is not None]
        parts.append((min(known), max(known), keys.count(None)))
    assert parts == [(-500, -251, 1), (-250, -1, 0), (0, 249, 0)]


def test_bounds_probe_runs_pre_commands(spark, derby_db):
    """--preCommand statements run on the probe's connection before
    the MIN/MAX query: connected as another user, the unqualified
    COFFEES only resolves after SET SCHEMA."""
    from dbeam_spark.sources.jdbc import find_input_bounds

    sql = "SELECT MIN(C_ID), MAX(C_ID) FROM COFFEES"
    opts = opts_for(derby_db, "/tmp/unused", username="other")
    with pytest.raises(Exception, match="does not exist"):
        find_input_bounds(spark, opts, None, sql)
    opts = opts_for(
        derby_db, "/tmp/unused", username="other",
        preCommand=["SET SCHEMA DBEAM"],
    )
    assert find_input_bounds(spark, opts, None, sql) == (0, 999)


def test_limit(spark, derby_db, tmp_path):
    out = tmp_path / "limit"
    metrics = run_export(spark, opts_for(derby_db, out, limit=10))
    assert metrics["recordCount"] == 10
    assert len(read_all(out)) == 10


def test_limit_with_parallelism_metadata(spark, derby_db, tmp_path):
    """With --limit + --queryParallelism the _queries/ metadata must
    describe the EXECUTED plan: un-limited range scans plus one global
    engine-side limit (dbeam instead bakes LIMIT limit/k per range and
    exports k*floor(limit/k) rows)."""
    out = tmp_path / "limit_par"
    metrics = run_export(
        spark,
        opts_for(
            derby_db, out, limit=10, splitColumn="C_ID", queryParallelism=4
        ),
    )
    assert metrics["recordCount"] == 10
    assert len(read_all(out)) == 10
    queries = [
        Path(p).read_text().strip()
        for p in sorted(glob.glob(str(out / "_queries" / "*.sql")))
    ]
    assert len(queries) == 5  # 4 ranges + the global-limit note
    assert all("LIMIT" not in q for q in queries[:-1] if q.startswith("SELECT"))
    assert queries[-1].startswith("-- LIMIT 10 applied engine-side")


def test_min_rows_validation(spark, derby_db, tmp_path):
    with pytest.raises(FailedValidationError):
        run_export(spark, opts_for(derby_db, tmp_path / "mr", minRows=100_000))


def test_data_only(spark, derby_db, tmp_path):
    out = tmp_path / "dataonly"
    run_export(spark, opts_for(derby_db, out, dataOnly=True))
    assert (out / "_SUCCESS").exists()
    assert not (out / "_AVRO_SCHEMA.avsc").exists()
    assert not (out / "_METRICS.json").exists()
    assert not (out / "_queries").exists()


def test_partition_too_old_fails(spark, derby_db, tmp_path):
    with pytest.raises(NotReadyError):
        run_export(
            spark,
            opts_for(
                derby_db,
                tmp_path / "old",
                skipPartitionCheck=False,
                partition="2001-01-01",
            ),
        )


def test_sql_file_export(spark, derby_db, tmp_path):
    sql = tmp_path / "q.sql"
    sql.write_text("SELECT C_ID, NAME FROM COFFEES WHERE C_ID < 5")
    out = tmp_path / "sqlfile"
    metrics = run_export(
        spark, opts_for(derby_db, out, table=None, sqlFile=str(sql))
    )
    assert metrics["recordCount"] == 5
    queries = [
        Path(p).read_text().strip()
        for p in sorted(glob.glob(str(out / "_queries" / "*.sql")))
    ]
    assert queries == [
        "SELECT * FROM (SELECT C_ID, NAME FROM COFFEES WHERE C_ID < 5) "
        "as user_sql_query WHERE 1=1"
    ]


def test_input_avro_schema_docs(spark, derby_db, tmp_path):
    """dbeam's --avroSchemaFilePath: docs and namespace of the input
    schema file carry into the written schema."""
    out = tmp_path / "docs"
    schema_file = tmp_path / "input.avsc"
    schema_file.write_text(json.dumps({
        "doc": "coffee table",
        "namespace": "com.example",
        "fields": [{"name": "C_ID", "doc": "the id"}],
    }))
    run_export(
        spark, opts_for(derby_db, out, avroSchemaFilePath=str(schema_file))
    )
    schema = json.loads((out / "_AVRO_SCHEMA.avsc").read_text())
    assert schema["doc"] == "coffee table"
    assert schema["namespace"] == "com.example"
    assert next(f for f in schema["fields"] if f["name"] == "C_ID")["doc"] == "the id"


def test_pushed_down_subquery_plan(spark, derby_db, tmp_path):
    """The WHERE conditions live inside the JDBC subquery — the
    database filters, not Spark."""
    plan = read_jdbc(
        spark,
        opts_for(
            derby_db,
            tmp_path,
            skipPartitionCheck=True,
            partition="2001-01-01",
            partitionColumn="CREATED_AT",
        ),
    )
    assert "CREATED_AT >= '2001-01-01'" in plan.queries[0]
    physical = plan.df._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in physical


def test_cli_arg_parsing():
    opts = parse_args(
        [
            "--connectionUrl=jdbc:postgresql://h/db",
            "--table=t",
            "--output=/tmp/o",
            "--limit=5",
            "--useAvroLogicalTypes=true",
            "--preCommand=SET a",
            "--preCommand=SET b",
        ]
    )
    assert opts.limit == 5
    assert opts.useAvroLogicalTypes is True
    assert opts.preCommand == ["SET a", "SET b"]


def test_option_validation():
    with pytest.raises(ValueError, match="connection URL"):
        JdbcExportOptions(connectionUrl="bogus", table="t").validate()
    with pytest.raises(ValueError, match="table"):
        JdbcExportOptions(connectionUrl="jdbc:h2:mem").validate()
    with pytest.raises(ValueError, match="queryParallelism"):
        JdbcExportOptions(
            connectionUrl="jdbc:h2:mem", table="t", queryParallelism=4
        ).validate()
    with pytest.raises(ValueError, match="partition"):
        JdbcExportOptions(
            connectionUrl="jdbc:h2:mem", table="t", partitionColumn="c"
        ).validate()


def test_driver_mapping():
    assert driver_for_url("jdbc:postgresql://h/db") == "org.postgresql.Driver"
    assert driver_for_url("jdbc:mysql://h/db") == "com.mysql.cj.jdbc.Driver"
    assert driver_for_url("jdbc:unknown:x") is None


def test_job_name():
    assert job_name("MyDb", "my_table") == "dbeam-mydb-mytable"
    assert job_name(None, "T!x") == "dbeam-tx"


def test_exit_codes():
    from dbeam_spark.errors import (
        ExportTimeoutError,
        FailedValidationError,
        NotReadyError,
        exit_code,
    )

    # same codes as reference jobs/ExceptionHandling.java
    assert exit_code(NotReadyError()) == 20
    assert exit_code(IOError()) == 41
    assert exit_code(ValueError()) == 43
    assert exit_code(ExportTimeoutError()) == 47
    assert exit_code(FailedValidationError()) == 50
    assert exit_code(RuntimeError()) == 49


def test_parse_iso_duration():
    from dbeam_spark.jobs.jdbc_avro_job import parse_iso_duration

    assert parse_iso_duration("P7D") == 7 * 86400
    assert parse_iso_duration("PT30M") == 1800
    assert parse_iso_duration("P1DT2H") == 93600
    with pytest.raises(ValueError):
        parse_iso_duration("7 days")


def test_export_timeout_cancels(spark):
    import time

    from dbeam_spark.errors import ExportTimeoutError
    from dbeam_spark.jobs.jdbc_avro_job import run_with_timeout

    def slow_job():
        def snooze(batches):
            for pdf in batches:
                time.sleep(30)
                yield pdf

        return (
            spark.range(0, 8, numPartitions=8)
            .mapInPandas(snooze, "id long")
            .count()
        )

    t0 = time.monotonic()
    with pytest.raises(ExportTimeoutError, match="exceeding timeout"):
        run_with_timeout(spark, 2.0, slow_job)
    assert time.monotonic() - t0 < 20  # cancelled, not waited out


def test_run_with_timeout_passthrough(spark):
    from dbeam_spark.jobs.jdbc_avro_job import run_with_timeout

    assert run_with_timeout(spark, 60.0, lambda: spark.range(10).count()) == 10


def test_complex_types_export(spark, tmp_path):
    """Reference-e2e-shaped round trip (e2e/ddl.sql: bool, hex ids,
    nullable numeric, bytes, const char flags) within Derby's type
    system: JDBC write → export → Avro read-back preserves values,
    NULLs, and binary payloads."""
    import tempfile as _tf

    dbdir = _tf.mkdtemp(prefix="derby_cx_") + "/db"
    url = f"jdbc:derby:{dbdir};create=true"
    df = spark.range(0, 500).selectExpr(
        "id AS ROW_NUMBER",
        "id % 3 > 0 AS BOOL_FIELD",
        "md5(CAST(id AS STRING)) AS HEXID1",
        "timestamp_millis(1262304000000 + id * 86400000) AS TIMESTAMP1",
        "CASE WHEN id % 5 = 0 THEN NULL "
        "ELSE CAST(id AS DECIMAL(10,2)) * 1.99 END AS NUMERIC_FIELD",
        "'const' AS FLAG1",
        "CAST(CONCAT('bin_', id) AS BINARY) AS BYTES_FIELD",
    )
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("user", "dbeam")
        .option("dbtable", "DEMO_TABLE")
        .mode("overwrite")
        .save()
    )
    out = tmp_path / "complex"
    metrics = run_export(
        spark,
        JdbcExportOptions(
            connectionUrl=f"jdbc:derby:{dbdir}",
            table="DEMO_TABLE",
            output=str(out),
            username="dbeam",
            skipPartitionCheck=True,
        ),
    )
    assert metrics["recordCount"] == 500
    rows = sorted(read_all(out))
    assert len(rows) == 500
    r0, r6 = rows[0], rows[6]
    assert r0[0] == 0 and r0[1] is False
    assert len(r0[2]) == 32  # md5 hex id
    assert r0[4] is None  # id=0: NULL numeric
    assert r6[4] is not None and "11.94" in str(r6[4])
    assert r0[5] == "const"
    assert bytes(r0[6]) == b"bin_0"


def test_column_stats_metadata(spark, derby_db, tmp_path):
    """--columnStats (A35): per-column null/min/max/approx-distinct
    metadata computed from the WRITTEN files in one aggregate pass."""
    out = tmp_path / "colstats"
    run_export(spark, opts_for(derby_db, out, columnStats=True))
    stats = json.loads((out / "_COLUMN_STATS.json").read_text())
    assert stats["row_count"] == 1000
    cols = stats["columns"]
    ids = cols["C_ID"]
    assert ids["null_count"] == 0
    assert ids["min"] == 0 and ids["max"] == 999
    # HLL estimate within its documented rsd of the true 1000
    assert 900 <= ids["approx_distinct"] <= 1100
    assert cols["NAME"]["min"] == "name_0"
    # stats are metadata: --dataOnly must not write them
    out2 = tmp_path / "colstats_dataonly"
    run_export(
        spark, opts_for(derby_db, out2, columnStats=True, dataOnly=True)
    )
    assert not (out2 / "_COLUMN_STATS.json").exists()


def test_validate_export_job(spark, derby_db, tmp_path):
    """A37: the standalone validator re-verifies a real export and
    catches each tamper class with the right check + exit code."""
    import shutil

    from dbeam_spark.jobs.validate_export import main, validate_export

    out = tmp_path / "val"
    run_export(spark, opts_for(derby_db, out))
    rep = validate_export(str(out))
    assert rep.ok and rep.row_count == 1000
    assert main([str(out), "--minRows", "500"]) == 0
    assert main([str(out), "--minRows", "5000"]) == 50  # floor fails

    # tamper: recordCount lie in _METRICS.json
    m = json.loads((out / "_METRICS.json").read_text())
    m["recordCount"] = 999
    (out / "_METRICS.json").write_text(json.dumps(m))
    rep = validate_export(str(out))
    assert not rep.ok
    assert any(
        c["check"] == "row_count_matches_metrics" and not c["ok"]
        for c in rep.checks
    )

    # tamper: corrupt a data file mid-stream
    part = sorted(glob.glob(str(out / "part-*.avro")))[0]
    data = open(part, "rb").read()
    open(part, "wb").write(data[: len(data) // 2])
    assert not validate_export(str(out)).ok

    # incomplete export: no _SUCCESS -> first check fails
    out2 = tmp_path / "val2"
    shutil.copytree(out, out2)
    (out2 / "_SUCCESS").unlink()
    rep = validate_export(str(out2))
    assert not rep.ok and rep.checks[0]["check"] == "success_marker"

    # missing dir -> IO exit code
    assert main([str(tmp_path / "nope")]) == 41


def test_source_type_names_collected(spark, derby_db):
    """The zero-row metadata probe returns the SOURCE SQL type names
    (ResultSetMetaData), the input for logicalType hints."""
    from dbeam_spark.sources.jdbc import collect_source_type_names

    opts = JdbcExportOptions(
        connectionUrl=derby_db, table="COFFEES", output="/tmp/unused",
        username="dbeam", skipPartitionCheck=True,
    )
    names = collect_source_type_names(
        spark, opts, None, "SELECT * FROM COFFEES WHERE 1=1"
    )
    assert names["C_ID"] == "bigint"
    assert names["NAME"] == "clob"  # Spark writes StringType as CLOB on Derby
    assert names["CREATED_AT"] == "timestamp"


def test_uuid_hint_wired_into_export(spark, derby_db, tmp_path, monkeypatch):
    """run_export threads ResultSetMetaData type names into the Avro
    schema when --useAvroLogicalTypes is set: a source uuid column is
    annotated logicalType uuid without any caller-provided hints
    (Derby has no uuid type, so the probe is stubbed to report one —
    the wiring under test is run_export's, not Derby's)."""
    import dbeam_spark.jobs.jdbc_avro_job as job

    monkeypatch.setattr(
        job,
        "collect_source_type_names",
        lambda spark_, opts_, pw_, sql_: {"NAME": "uuid"},
    )
    out = tmp_path / "uuid_hint"
    run_export(spark, opts_for(derby_db, out, useAvroLogicalTypes=True))
    schema = json.loads((out / "_AVRO_SCHEMA.avsc").read_text())
    by_name = {f["name"]: f["type"] for f in schema["fields"]}
    assert by_name["NAME"][1] == {"type": "string", "logicalType": "uuid"}
    # non-hinted string columns stay plain
    assert by_name["C_ID"][1] == "long"


def test_resume_export_skips_landed_partitions(spark, derby_db, tmp_path):
    """--resume (A41): rerunning a crashed export re-encodes ONLY the
    missing part files. The tmp+atomic-rename protocol makes any
    final-named file complete, so landed partitions are credited into
    the metrics from block headers without re-reading the source."""
    import os
    import time as _time

    out = tmp_path / "resume"
    run_export(
        spark,
        opts_for(derby_db, out, splitColumn="C_ID", queryParallelism=4),
    )
    parts = sorted(glob.glob(str(out) + "/part-*.avro"))
    assert len(parts) == 4
    victim = parts[2]
    os.remove(victim)  # simulated crash: one partition never landed
    mtimes = {p: os.path.getmtime(p) for p in parts if p != victim}
    _time.sleep(1.1)
    metrics = run_export(
        spark,
        opts_for(
            derby_db, out,
            splitColumn="C_ID", queryParallelism=4, resume=True,
        ),
    )
    assert metrics["recordCount"] == 1000  # full total, not just the redo
    assert sorted(glob.glob(str(out) + "/part-*.avro")) == parts
    for p, old_m in mtimes.items():
        assert os.path.getmtime(p) == old_m, f"{p} was rewritten"
    assert os.path.getmtime(victim) > list(mtimes.values())[0]
    assert sorted(read_all(out))[0][0] == 0 and len(read_all(out)) == 1000


def test_count_ocf_rows_matches_reader(spark, derby_db, tmp_path):
    from dbeam_spark.avro.reader import count_ocf_rows

    out = tmp_path / "cnt"
    run_export(spark, opts_for(derby_db, out))
    total = 0
    for p in sorted(glob.glob(str(out) + "/part-*.avro")):
        n = count_ocf_rows(p)
        assert n == len(read_avro_file(p)[1])
        total += n
    assert total == 1000


def test_schema_export_discovers_and_exports_all_tables(
    spark, derby_db, tmp_path
):
    import json

    from dbeam_spark.jobs.schema_export import run_schema_export
    from dbeam_spark.sources.jdbc import list_tables

    # add a second fixture table so discovery has something to find
    spark.range(0, 50).selectExpr(
        "id AS T_ID", "CONCAT('tea_', id) AS KIND"
    ).write.format("jdbc").option("url", f"{derby_db};create=true").option(
        "user", "dbeam"
    ).option("dbtable", "TEAS").mode("overwrite").save()

    found = list_tables(spark, derby_db, "dbeam", None)
    assert "COFFEES" in found and "TEAS" in found

    out = tmp_path / "schema_out"
    report = run_schema_export(spark, opts_for(derby_db, out))
    assert report["failed"] == 0
    assert report["ok"] == len(found)
    assert (out / "_SUCCESS").exists()
    saved = json.loads((out / "_SCHEMA_METRICS.json").read_text())
    assert saved["tables"]["COFFEES"]["status"] == "ok"
    # per-table layout identical to a single-table run
    assert (out / "coffees" / "_SUCCESS").exists()
    assert (out / "teas" / "_AVRO_SCHEMA.avsc").exists()
    n = saved["tables"]["TEAS"]["metrics"]["recordCount"]
    assert n == 50


def test_schema_export_isolates_per_table_failures(
    spark, derby_db, tmp_path
):
    from dbeam_spark.jobs.schema_export import run_schema_export

    out = tmp_path / "schema_fail"
    report = run_schema_export(
        spark,
        opts_for(derby_db, out),
        tables=["COFFEES", "NO_SUCH_TABLE"],
    )
    assert report["ok"] == 1 and report["failed"] == 1
    assert report["tables"]["NO_SUCH_TABLE"]["status"] == "failed"
    assert not (out / "_SUCCESS").exists()  # fleet not green
    assert (out / "coffees" / "_SUCCESS").exists()  # but COFFEES is


def test_export_checksums(spark, derby_db, tmp_path):
    """_CHECKSUMS.json: distributed per-file CRC32 sidecar, verified
    by the standalone validator; a single flipped byte that keeps the
    Avro stream decodable is still caught by the CRC."""
    from dbeam_spark.avro.writer import file_crc32
    from dbeam_spark.jobs.validate_export import validate_export

    out = tmp_path / "cks"
    run_export(spark, opts_for(derby_db, out))
    cks = json.loads((out / "_CHECKSUMS.json").read_text())
    parts = sorted(glob.glob(str(out / "part-*.avro")))
    assert set(cks) == {Path(p).name for p in parts}
    for p in parts:
        rec = cks[Path(p).name]
        assert rec["crc32"] == file_crc32(p)
        assert rec["bytes"] == Path(p).stat().st_size
    assert sum(r["rows"] for r in cks.values()) == 1000
    rep = validate_export(str(out))
    assert rep.ok
    assert any(c["check"] == "file_checksums" and c["ok"] for c in rep.checks)

    # flip ONE payload byte (keep size identical): only the CRC check
    # can see it
    p0 = parts[0]
    data = bytearray(Path(p0).read_bytes())
    data[-20] ^= 0xFF
    Path(p0).write_bytes(bytes(data))
    rep = validate_export(str(out))
    bad = [c for c in rep.checks if c["check"] == "file_checksums"]
    assert bad and not bad[0]["ok"]

    # a file recorded but deleted is reported too
    Path(p0).unlink()
    rep = validate_export(str(out))
    assert not rep.ok


_RETRY_CHILD = r'''
import glob, json, os, shutil, sys

from dbeam_spark.avro.writer import file_crc32
from dbeam_spark.jobs import jdbc_avro_job
from dbeam_spark.options import JdbcExportOptions
from dbeam_spark.session import get_spark

work, resume = sys.argv[1], sys.argv[2] == "resume"
spark = get_spark(
    "retry-determinism", master="local[2,2]", shuffle_partitions=2,
    extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "100"},
)
url = f"jdbc:derby:{work}/db"
spark.range(0, 1000).selectExpr("id AS ID", "CONCAT('v', id) AS V").write.format(
    "jdbc"
).option("url", url + ";create=true").option("user", "dbeam").option(
    "dbtable", "T"
).save()


def export(out, resume=False):
    jdbc_avro_job.run_export(spark, JdbcExportOptions(
        connectionUrl=url, table="T", output=out, username="dbeam",
        skipPartitionCheck=True, splitColumn="ID", queryParallelism=2,
        resume=resume,
    ))
    with open(os.path.join(out, "_CHECKSUMS.json")) as fh:
        checksums = json.load(fh)
    return {
        "checksums": checksums,
        "crcs": {os.path.basename(p): file_crc32(p)
                 for p in sorted(glob.glob(out + "/part-*.avro"))},
        "tmp": sorted(glob.glob(out + "/**/*.tmp", recursive=True)),
    }


clean = export(os.path.join(work, "clean"))
read_jdbc = jdbc_avro_job.read_jdbc


def faulty_read_jdbc(*args, **kwargs):
    plan = read_jdbc(*args, **kwargs)

    def fail_first_attempt(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        for i, rb in enumerate(batches):
            if i == 1 and ctx.attemptNumber() == 0:
                open(f"{work}/fault-{ctx.partitionId()}", "w").close()
                raise RuntimeError("injected fault after one batch")
            yield rb

    plan.df = plan.df.mapInArrow(fail_first_attempt, plan.df.schema)
    return plan


jdbc_avro_job.read_jdbc = faulty_read_jdbc
retried_dir = os.path.join(work, "retried")
if resume:
    # a crashed earlier run landed partition 0 only: the retried
    # attempts of the resumed run skip it and redo partition 1
    os.makedirs(retried_dir)
    shutil.copy(os.path.join(work, "clean", "part-00000.avro"), retried_dir)
retried = export(retried_dir, resume=resume)
faults = len(glob.glob(f"{work}/fault-*"))
print(json.dumps({"clean": clean, "retried": retried, "faults": faults}))
'''


@pytest.mark.parametrize("mode", ["fresh", "resume"])
def test_retried_partitions_write_identical_files(tmp_path, mode):
    """A task that fails after its writer got one batch is retried
    (local[2,2]); each attempt writes its own tmp file, the failed one
    removes it, and the export is byte-identical to a clean run. In
    --resume mode one partition has already landed and is skipped."""
    import os
    import subprocess
    import sys

    repo = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_CHILD, str(tmp_path), mode],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["faults"] == 2  # both partitions failed once
    clean, retried = got["clean"], got["retried"]
    assert retried["checksums"] == clean["checksums"]
    assert retried["crcs"] == clean["crcs"]
    assert {n: r["crc32"] for n, r in clean["checksums"].items()} == clean["crcs"]
    assert sum(r["rows"] for r in clean["checksums"].values()) == 1000
    assert retried["tmp"] == [] and clean["tmp"] == []
