"""The JDBC → Avro export job.

Re-expresses reference jobs/JdbcAvroJob.java end-to-end:

  prepare (schema + queries) → export (read JDBC, write Avro) →
  metadata (_AVRO_SCHEMA.avsc, _queries/query_N.sql, _METRICS.json,
  _SUCCESS) → validation (minRows).

Where dbeam runs one Beam bundle per generated query, the Spark job is
a single partitioned JDBC scan feeding a map-only distributed Avro
write — same outputs, executor-parallel end to end.

CLI (same flags as dbeam):
  python -m dbeam_spark.jobs.jdbc_avro_job \
      --connectionUrl=jdbc:postgresql://host/db --table=t \
      --output=/path/out [--partition=2025-01-01 ...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from pyspark.sql import SparkSession

from dbeam_spark.avro.schema import merge_input_schema, spark_schema_to_avro, to_json
from dbeam_spark.avro.writer import write_avro, write_checksums
from dbeam_spark.errors import ExportTimeoutError, FailedValidationError, exit_code
from dbeam_spark.metrics import ExportMetrics
from dbeam_spark.options import JdbcExportOptions, parse_args
from dbeam_spark.passwords import read_password
from dbeam_spark.sources.jdbc import collect_source_type_names, read_jdbc


def job_name(catalog: str | None, table: str | None) -> str:
    """Sanitized job name (ref options/JobNameConfiguration.java:
    'dbeam-{catalog}-{table}' lowercased, non-alnum → '')."""

    def norm(s: str) -> str:
        return "".join(c for c in s.lower() if c.isalnum())

    parts = ["dbeam"] + [norm(p) for p in (catalog, table) if p]
    return "-".join(p for p in parts if p)


def parse_iso_duration(value: str) -> float:
    """ISO-8601 duration → seconds ('P7D', 'PT30M', 'P1DT2H'...)."""
    import re

    m = re.fullmatch(
        r"P(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?",
        value.strip().upper(),
    )
    if not m or not any(m.groups()):
        raise ValueError(f"Unsupported exportTimeout: {value}")
    d, h, mi, s = (float(x or 0) for x in m.groups())
    return d * 86400 + h * 3600 + mi * 60 + s


def run_with_timeout(spark: SparkSession, seconds: float, fn):
    """Run fn(); cancel its Spark jobs and raise ExportTimeoutError if
    it exceeds the budget (ref BeamHelper.waitUntilDone: wait, cancel,
    raise 'Job cancelled after exceeding timeout')."""
    import threading

    group = f"dbeam-export-{id(fn)}"
    timed_out = threading.Event()

    def cancel() -> None:
        timed_out.set()
        spark.sparkContext.cancelJobGroup(group)

    timer = threading.Timer(seconds, cancel)
    spark.sparkContext.setJobGroup(group, "dbeam export", interruptOnCancel=True)
    timer.start()
    try:
        return fn()
    except Exception:
        if timed_out.is_set():
            raise ExportTimeoutError(
                f"Job cancelled after exceeding timeout {seconds}s"
            ) from None
        raise
    finally:
        timer.cancel()
        spark.sparkContext.setJobGroup("", "")


def run_export(spark: SparkSession, opts: JdbcExportOptions) -> dict:
    """Run the export; returns the metrics dict."""
    opts.validate()
    password = read_password(
        opts.password, opts.passwordFile, opts.passwordFileKmsEncrypted
    )

    metrics = ExportMetrics()
    t0 = time.monotonic_ns()
    plan = read_jdbc(spark, opts, password)
    schema_name = opts.avroSchemaName or opts.table or "no_table_name"
    hints: dict[str, str] | None = None
    if opts.useAvroLogicalTypes:
        # source SQL type names (ResultSetMetaData over a zero-row
        # probe) so DB types Spark erases — e.g. Postgres uuid →
        # StringType — keep their logicalType annotation, like the
        # reference's JdbcAvroSchema does automatically.
        try:
            hints = collect_source_type_names(
                spark, opts, password, plan.base_query
            )
        except Exception:
            hints = None  # metadata probe is best-effort
    generated = spark_schema_to_avro(
        plan.df.schema,
        schema_name=schema_name,
        namespace=opts.avroSchemaNamespace,
        doc=opts.avroDoc or f"Generate schema from JDBC ResultSet metadata: {schema_name}",
        connection_url=opts.connectionUrl,
        table_name=opts.table,
        use_logical_types=opts.useAvroLogicalTypes,
        array_mode=opts.arrayMode,
        nullable_array_items=opts.nullableArrayItems,
        logical_type_hints=hints,
    )
    if opts.avroSchemaFilePath:
        generated = merge_input_schema(
            generated, json.loads(Path(opts.avroSchemaFilePath).read_text())
        )
    metrics.expose_execute_query_ms((time.monotonic_ns() - t0) // 1_000_000)

    out = Path(opts.output)
    out.mkdir(parents=True, exist_ok=True)
    if not opts.dataOnly:
        (out / "_AVRO_SCHEMA.avsc").write_text(to_json(generated) + "\n")
        qdir = out / "_queries"
        qdir.mkdir(exist_ok=True)
        for i, q in enumerate(plan.queries):
            (qdir / f"query_{i}.sql").write_text(q + "\n")

    metrics.start_write_meter()
    stats = run_with_timeout(
        spark,
        parse_iso_duration(opts.exportTimeout),
        lambda: write_avro(
            plan.df, str(out), generated, codec=opts.avroCodec,
            resume=opts.resume,
        ),
    )
    metrics.expose_write_elapsed()
    metrics.expose_written(
        sum(s["rows"] for s in stats), sum(s["bytes"] for s in stats)
    )
    if not opts.dataOnly:
        # per-file CRC32 sidecar, computed DISTRIBUTED as each
        # partition streams out (zero extra read); validate_export
        # re-derives and compares — bit-rot / truncated-copy
        # detection for the export artifact.
        write_checksums(out, stats)

    if not opts.dataOnly:
        metrics.save(str(out))
        if opts.columnStats:
            # stats describe what LANDED: computed from the written
            # files (distributed read-back, A22) — never a second
            # round-trip to the source database. One scan, one 1-row
            # reduce (A35).
            from dbeam_spark.metrics import collect_column_stats
            from dbeam_spark.sources.avro import read_avro

            stats = collect_column_stats(read_avro(spark, str(out)))
            (out / "_COLUMN_STATS.json").write_text(
                json.dumps(stats, indent=2) + "\n"
            )

    if metrics.record_count < opts.minRows:
        # validate BEFORE the success marker so a failed export is
        # never mistaken for a complete one by downstream consumers
        raise FailedValidationError(
            f"Unexpected number of rows in the output: got "
            f"{metrics.record_count}, expecting at least {opts.minRows}"
        )
    (out / "_SUCCESS").write_text("")
    return metrics.to_dict()


def main(argv: list[str] | None = None) -> int:
    """CLI entry; failures map to dbeam's exit codes
    (ref jobs/ExceptionHandling.java: NotReady=20, IO=41, invalid
    args=43, timeout≈pipeline failure=47, FailedValidation=50,
    other=49)."""
    from dbeam_spark.session import get_spark

    try:
        opts = parse_args(argv if argv is not None else sys.argv[1:])
        spark = get_spark(job_name(None, opts.table))
        metrics = run_export(spark, opts)
    except Exception as e:  # noqa: BLE001 - CLI boundary
        print(f"Failure: {type(e).__name__}: {e}", file=sys.stderr)
        return exit_code(e)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
