"""PostgreSQL replication-lag gate.

Re-expresses reference jobs/PsqlReplicationCheck.java: before
exporting from a replica, verify the last replayed transaction covers
the requested partition; otherwise the export is not ready.
The decision logic is pure and unit-tested; the query runs through a
one-row Spark JDBC read when a live connection exists.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import SparkSession

from dbeam_spark.errors import NotReadyError
from dbeam_spark.options import JdbcExportOptions
from dbeam_spark.partitions import add_period, partition_window

REPLICATION_QUERY = (
    "SELECT now() AS current_timestamp, "
    "pg_last_xact_replay_timestamp() AS last_replication, "
    "ROUND (( EXTRACT (EPOCH FROM now()) - "
    "EXTRACT (EPOCH FROM pg_last_xact_replay_timestamp()) "
    ") * 1000) AS replication_delay"
)


def validate_options(opts: JdbcExportOptions) -> None:
    if "postgres" not in opts.connectionUrl:
        raise ValueError("Must be a PostgreSQL connection")
    if not opts.partition:
        raise ValueError("Partition parameter must be defined")


def is_replication_delayed(
    partition: datetime,
    last_replication: datetime,
    period: str | timedelta,
) -> bool:
    """True when replication has not yet covered partition+period
    (ref PsqlReplicationCheck.isReplicationDelayed)."""
    return last_replication < add_period(partition, period)


def query_replication(
    spark: SparkSession, opts: JdbcExportOptions, password: str | None = None
) -> datetime:
    from dbeam_spark.sources.jdbc import _base_reader

    rows = (
        _base_reader(spark, opts, password)
        .option("dbtable", f"({REPLICATION_QUERY}) replication_check")
        .load()
        .collect()
    )
    if not rows:
        raise ValueError(
            "Replication query returned empty results, "
            "consider using jdbc-avro-job instead"
        )
    return rows[0]["last_replication"]


def check_replication(
    spark: SparkSession,
    opts: JdbcExportOptions,
    password: str | None = None,
) -> None:
    """Raise NotReadyError unless replication covers the export's
    partition plus its --partitionPeriod (ref
    PsqlReplicationCheck.create uses the export's period, default one
    day)."""
    validate_options(opts)
    partition, period = partition_window(opts)
    last = query_replication(spark, opts, password)
    if is_replication_delayed(partition, last, period):
        raise NotReadyError("PostgreSQL replication is late")
