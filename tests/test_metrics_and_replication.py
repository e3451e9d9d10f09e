from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest

from dbeam_spark.jobs.psql_replication_check import (
    REPLICATION_QUERY,
    is_replication_delayed,
    validate_options,
)
from dbeam_spark.metrics import ExportMetrics
from dbeam_spark.options import JdbcExportOptions


def utc(*a):
    return datetime(*a, tzinfo=timezone.utc)


def test_metrics_derived_gauges(tmp_path):
    m = ExportMetrics()
    m.start_write_meter()
    m.expose_written(records=2_000_000, nbytes=123)
    m.write_elapsed_ms = 1000  # deterministic for the assertion
    d = m.to_dict()
    assert d["recordCount"] == 2_000_000
    assert d["bytesWritten"] == 123
    assert d["msPerMillionRows"] == 500
    assert d["rowsPerMinute"] == 120_000_000
    m.save(str(tmp_path))
    assert json.loads((tmp_path / "_METRICS.json").read_text())["recordCount"] == 2_000_000


def test_replication_delay_decision():
    # same semantics as PsqlReplicationCheckTest: replication must
    # cover partition + period
    partition = utc(2025, 1, 1)
    assert is_replication_delayed(partition, utc(2025, 1, 1, 23), "P1D")
    assert not is_replication_delayed(partition, utc(2025, 1, 2), "P1D")
    assert is_replication_delayed(
        partition, utc(2025, 1, 1, 0, 30), timedelta(hours=1)
    )
    assert not is_replication_delayed(
        partition, utc(2025, 1, 1, 1), timedelta(hours=1)
    )
    # leap day plus one year is 2025-02-28, like LocalDate.plusYears
    leap = utc(2024, 2, 29)
    assert is_replication_delayed(leap, utc(2025, 2, 27, 23), "P1Y")
    assert not is_replication_delayed(leap, utc(2025, 2, 28), "P1Y")


def test_replication_validate_options():
    with pytest.raises(ValueError, match="PostgreSQL"):
        validate_options(
            JdbcExportOptions(connectionUrl="jdbc:mysql://h/db", partition="2025-01-01")
        )
    with pytest.raises(ValueError, match="Partition"):
        validate_options(JdbcExportOptions(connectionUrl="jdbc:postgresql://h/db"))
    validate_options(
        JdbcExportOptions(connectionUrl="jdbc:postgresql://h/db", partition="2025-01-01")
    )
    assert "pg_last_xact_replay_timestamp" in REPLICATION_QUERY


def test_psql_avro_job_create_and_validate():
    """Mirrors reference PsqlAvroJobTest.shouldCreatePsqlAvroJob: a
    psql-shaped arg set parses and validates without touching the DB."""
    from dbeam_spark.jobs.psql_avro_job import create

    opts = create(
        [
            "--connectionUrl=jdbc:postgresql://fake",
            "--table=foo",
            "--partition=2025-02-28",
            "--skipPartitionCheck",
            "--output=/fake",
        ]
    )
    assert opts.table == "foo"

    # non-psql URL is rejected up front (PsqlReplicationCheck.validateOptions)
    with pytest.raises(ValueError, match="PostgreSQL"):
        create(
            [
                "--connectionUrl=jdbc:mysql://fake",
                "--table=foo",
                "--partition=2025-02-28",
                "--output=/fake",
            ]
        )


def test_psql_avro_job_delayed_replication_exits_20(monkeypatch, tmp_path):
    """checkReplication gates the export: late replica -> NotReady exit
    code 20 and run_export never runs (ref PsqlAvroJob.main:46-52)."""
    from dbeam_spark.jobs import psql_avro_job

    argv = [
        "--connectionUrl=jdbc:postgresql://fake",
        "--table=foo",
        "--partition=2025-02-28",
        "--skipPartitionCheck",
        f"--output={tmp_path}/out",
    ]
    calls = []
    monkeypatch.setattr(
        psql_avro_job.replication,
        "query_replication",
        lambda spark, opts, password=None: datetime(
            2025, 2, 28, 12, 0, tzinfo=timezone.utc
        ),
    )
    monkeypatch.setattr(
        psql_avro_job, "run_export", lambda s, o: calls.append(o) or {}
    )
    # replica replayed only to mid-partition: partition+P1D not covered
    assert psql_avro_job.main(argv) == 20
    assert calls == []

    # replica past partition+period: export runs, exit 0
    monkeypatch.setattr(
        psql_avro_job.replication,
        "query_replication",
        lambda spark, opts, password=None: datetime(
            2025, 3, 2, 0, 0, tzinfo=timezone.utc
        ),
    )
    assert psql_avro_job.main(argv) == 0
    assert len(calls) == 1

    # the same gate with a sub-daily period: the check gets it parsed
    hourly = argv + ["--partitionPeriod=PT1H"]
    for replayed, code in ((utc(2025, 2, 28, 0, 30), 20), (utc(2025, 2, 28, 1), 0)):
        monkeypatch.setattr(
            psql_avro_job.replication,
            "query_replication",
            lambda spark, opts, password=None, t=replayed: t,
        )
        assert psql_avro_job.main(hourly) == code
    assert len(calls) == 2
