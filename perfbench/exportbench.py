"""The JDBC → Avro export workloads.

Each pass exports every table of a seeded Derby fixture with
``jobs.jdbc_avro_job.run_export``, one export at a time. The first
export of each table is untimed and checked in full; every timed
export must be byte-identical to it (``checks.py``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time

import checks
import fixture
import tracing

CODEC = "deflate6"
WARM_UP_S = 5.0
ISOLATED_TABLES = 4  # tables that get the isolated layer calls


def count_blocks(path: str) -> int:
    """OCF blocks in one file: every block ends with the file's sync
    marker, which also closes the header and ends the file."""
    with open(path, "rb") as fh:
        data = fh.read()
    return data.count(data[-16:]) - 1


class ExportBench(checks.Outcomes):
    """One pass = one ``run_export`` per table of the fixture."""

    def __init__(self, spark, work: str, cfg: dict, seed: int, tracer: tracing.Tracer) -> None:
        super().__init__()
        self.spark = spark
        self.cfg = cfg
        self.tracer = tracer
        self.parallelism = spark.sparkContext.defaultParallelism
        path = fixture.fixture_dir(work, cfg["shape"], seed, cfg["rows"], cfg["tables"])
        fixture.evict(work, keep=path)
        self.url, self.specs = fixture.build(
            spark, path, cfg["shape"], seed, cfg["rows"], cfg["tables"]
        )
        os.utime(path)
        self.out = os.path.join(work, "out")
        shutil.rmtree(self.out, ignore_errors=True)
        self.java = checks.JavaReader(work)
        self.rows_per_pass = sum(s.rows for s in self.specs)
        self.first: dict[str, tuple[int, str]] = {}  # table → (op, dir) of its first export
        self.reference: dict[str, dict] = {}  # table → _CHECKSUMS.json of its first export
        self.traced: list[dict] = []  # per traced export: span and _METRICS.json

    def describe(self) -> dict:
        split = self.cfg["split"]
        return {
            "tables": len(self.specs),
            "rows_per_table": self.cfg["rows"],
            "columns_per_table": sorted({len(s.columns) for s in self.specs}),
            "codec": CODEC,
            "split": f"--splitColumn --queryParallelism={self.parallelism}" if split else None,
            "derby_user": fixture.USER,
        }

    def options(self, spec, out: str):
        from dbeam_spark.options import JdbcExportOptions

        split = self.cfg["split"]
        return JdbcExportOptions(
            connectionUrl=self.url, table=spec.name, username=fixture.USER,
            output=out, avroCodec=CODEC,
            splitColumn=spec.key if split else None,
            queryParallelism=self.parallelism if split else None,
        )

    def export(self, spec, out: str) -> tuple[int, bool]:
        """Run one export: (operation id, whether it raised nothing)."""
        from dbeam_spark.jobs.jdbc_avro_job import run_export

        op = self.attempt()
        try:
            run_export(self.spark, self.options(spec, out))
            return op, True
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            self.fail(op, spec.name, [f"export raised {type(e).__name__}: {e}"])
            return op, False

    def warm_up(self) -> None:
        """Export every table once, untimed: its checksums are what
        every timed export must match, and ``verify`` checks it in
        full. Untimed passes then run for ``WARM_UP_S`` seconds, so
        the JVM's compilers settle before the timed passes."""
        for spec in self.specs:
            out = os.path.join(self.out, "checked", spec.name)
            op, ok = self.export(spec, out)
            if ok:
                try:
                    self.reference[spec.name] = checks.read_checksums(out)
                    self.first[spec.name] = (op, out)
                except (OSError, ValueError) as e:
                    self.fail(op, spec.name, [f"_CHECKSUMS.json unreadable: {e}"])
        warm = os.path.join(self.out, "warm")
        t0 = time.monotonic()
        while time.monotonic() - t0 < WARM_UP_S:
            for spec in self.specs:
                self.export(spec, os.path.join(warm, spec.name))
            shutil.rmtree(warm, ignore_errors=True)

    def verify(self) -> None:
        """Check the first export of every table in full, after the
        timed passes: ``validate_export`` and ``avro.reader`` here,
        Apache Avro's Java reader alongside in its own process."""
        java_proc = self.java.start([out for _, out in self.first.values()])
        found = {}
        for spec in self.specs:
            if spec.name in self.first:
                try:
                    found[spec.name] = checks.reader_check(self.first[spec.name][1], spec)
                except Exception as e:  # noqa: BLE001 - a failed check is a failure
                    found[spec.name] = [f"check raised {type(e).__name__}: {e}"]
        try:
            java = self.java.result(java_proc)
        except (subprocess.SubprocessError, OSError, RuntimeError) as e:
            self.problems.append(f"Java DataFileReader failed: {e}")
            java = {}
        for spec in self.specs:
            if spec.name in self.first:
                op, out = self.first[spec.name]
                self.fail(op, spec.name, found[spec.name] + checks.java_check(java.get(out), spec))

    def timed_pass(self, traced: bool) -> tuple[float, list[float]]:
        """One pass over every table: (pass seconds, export seconds).
        Checks run after the pass clock stops."""
        pass_dir = os.path.join(self.out, "pass")
        shutil.rmtree(pass_dir, ignore_errors=True)
        latencies, ops = [], []
        t_pass = time.perf_counter()
        for spec in self.specs:
            out = os.path.join(pass_dir, spec.name)
            t0 = time.perf_counter()
            span = None
            if traced:
                with tracing.traced_layers(self.tracer), self.tracer.span(
                    "jobs.jdbc_avro_job.run_export", table=spec.name
                ) as span:
                    op, ok = self.export(spec, out)
            else:
                op, ok = self.export(spec, out)
            latencies.append(time.perf_counter() - t0)
            if ok:
                ops.append((op, spec, out, span))
        pass_s = time.perf_counter() - t_pass
        for op, spec, out, span in ops:
            ref = self.reference.get(spec.name)
            try:
                problems = (
                    checks.same_bytes_check(out, ref) if ref is not None
                    else ["no checked export to compare with"]
                )
                if span is not None:
                    self.traced.append({"span": span, "metrics": checks.read_metrics(out)})
            except Exception as e:  # noqa: BLE001 - a failed check is a failure
                problems = [f"check raised {type(e).__name__}: {e}"]
            self.fail(op, spec.name, problems)
        shutil.rmtree(pass_dir, ignore_errors=True)
        return pass_s, latencies

    def layer_metrics(self) -> dict:
        """Per-layer metrics: medians per export over the traced
        passes, plus the isolated layer calls."""
        per_export = []
        for f in self.traced:
            row = tracing.export_layers(self.tracer, f["span"])
            row["metrics.writeElapsedMs"] = f["metrics"]["writeElapsedMs"]
            row["metrics.executeQueryElapsedMs"] = f["metrics"]["executeQueryElapsedMs"]
            per_export.append(row)
        isolated = []
        for spec in self.specs[:ISOLATED_TABLES]:
            out = os.path.join(self.out, "isolated", spec.name)
            row = tracing.isolated_layers(self.spark, self.tracer, self.options(spec, out))
            checked = os.path.join(self.out, "checked", spec.name)
            with self.tracer.span("avro.reader.read_avro_file", table=spec.name) as s:
                checks.python_digest(checked)
            row["avro.reader.readback_s"] = tracing.duration(s)
            isolated.append(row)
        files = [
            [os.path.join(self.out, "checked", spec.name, name) for name in self.reference[spec.name]]
            for spec in self.specs if spec.name in self.reference
        ]
        part_bytes = sum(os.path.getsize(p) for paths in files for p in paths)
        return {
            **median_dict(per_export),
            **median_dict(isolated),
            "avro.writer.files": statistics.median(len(paths) for paths in files),
            "avro.writer.blocks": statistics.median(
                sum(count_blocks(p) for p in paths) for paths in files
            ),
            "avro.writer.bytes_per_row": part_bytes / self.rows_per_pass,
        }


def median_dict(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
