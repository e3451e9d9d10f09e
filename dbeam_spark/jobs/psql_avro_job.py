"""Composed PostgreSQL export: replication-lag gate → JDBC→Avro export.

Re-expresses reference jobs/PsqlAvroJob.java:26-54 — the daily-driver
entry point for exporting from a psql replica: validate the options
are psql-shaped, check the replica has replayed past the requested
partition, then run the export; any failure maps through the same
exit codes (NotReady=20) so wrappers scripted around dbeam's
PsqlAvroJob keep working.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

from dbeam_spark.errors import exit_code
from dbeam_spark.jobs import psql_replication_check as replication
from dbeam_spark.jobs.jdbc_avro_job import job_name, run_export
from dbeam_spark.options import JdbcExportOptions, parse_args


def create(argv: list[str]) -> JdbcExportOptions:
    """Parse + validate psql export options (ref PsqlAvroJob.create:
    builds the JdbcAvroJob then PsqlReplicationCheck.validateOptions)."""
    opts = parse_args(argv)
    replication.validate_options(opts)
    return opts


def run(
    spark: SparkSession,
    opts: JdbcExportOptions,
    password: str | None = None,
) -> dict:
    """checkReplication → runExport (ref PsqlAvroJob.main:47-49)."""
    replication.check_replication(spark, opts, password)
    return run_export(spark, opts)


def main(argv: list[str] | None = None) -> int:
    from dbeam_spark.session import get_spark

    try:
        opts = create(argv if argv is not None else sys.argv[1:])
        spark = get_spark(job_name(None, opts.table))
        metrics = run(spark, opts)
    except Exception as e:  # noqa: BLE001 - CLI boundary
        print(f"Failure: {type(e).__name__}: {e}", file=sys.stderr)
        return exit_code(e)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
