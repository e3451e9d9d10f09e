"""Output checks, run outside the timed passes, and the tally of
attempted and failed operations they feed.

The first export of each table in a run (untimed, at the start of the
warm-up) is checked in full after the timed passes:

- ``validate_export`` passes: ``_SUCCESS`` exists, every part file
  matches ``_CHECKSUMS.json``, the files decode and the row count
  matches ``_METRICS.json``;
- the files decode through ``dbeam_spark.avro.reader`` and through
  Apache Avro's Java ``DataFileReader`` (``AvroDigest.java``) to the
  generator's row count and order-insensitive content digest.

Every timed export must then be byte-identical to that checked export:
the same ``_CHECKSUMS.json``, each part file's CRC32 and size as
recorded, and ``_SUCCESS`` present.

Query results are checked in ``querybench.py`` against DuckDB.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess

from fixture import canonical_line, row_digest

_HERE = os.path.dirname(os.path.abspath(__file__))
_JAVA_SRC = os.path.join(_HERE, "AvroDigest.java")


class Outcomes:
    """Operations attempted and failed in one run. An operation fails
    when it raises or when a check of its output finds a problem."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: set[int] = set()  # operation ids
        self.problems: list[str] = []

    def attempt(self) -> int:
        """Count one more operation; return its id."""
        self.attempted += 1
        return self.attempted

    def fail(self, op: int, what: str, problems: list[str]) -> None:
        if problems:
            self.failed.add(op)
            self.problems.extend(f"{what}: {p}" for p in problems)


def _spark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


class JavaReader:
    """Compiles ``AvroDigest.java`` once per source version into the
    work directory and runs it over export directories."""

    def __init__(self, work: str) -> None:
        with open(_JAVA_SRC, "rb") as fh:
            tag = hashlib.sha1(fh.read()).hexdigest()[:12]
        self.classes = os.path.join(work, "java", tag)
        if not os.path.exists(os.path.join(self.classes, "AvroDigest.class")):
            os.makedirs(self.classes, exist_ok=True)
            subprocess.run(
                ["javac", "-cp", _spark_jars(), "-d", self.classes, _JAVA_SRC],
                check=True, capture_output=True, timeout=120,
            )

    def start(self, dirs: list[str]) -> subprocess.Popen:
        """Start decoding ``dirs``; the Python checks run meanwhile."""
        return subprocess.Popen(
            ["java", "-cp", f"{self.classes}{os.pathsep}{_spark_jars()}",
             "AvroDigest", *dirs],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )

    @staticmethod
    def result(proc: subprocess.Popen) -> dict[str, tuple[int, int]]:
        """{directory: (rows, digest)} from a started decode."""
        try:
            out, err = proc.communicate(timeout=170)
        finally:
            proc.kill()
            proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"AvroDigest exited {proc.returncode}: {err[-2000:]}")
        digests = {}
        for line in out.splitlines():
            d, rows, digest = line.split("\t")
            digests[d] = (int(rows), int(digest))
        return digests


def python_digest(export_dir: str) -> tuple[int, int]:
    """(rows, digest) through ``avro.reader``."""
    from dbeam_spark.avro.reader import read_avro_file

    rows = []
    for part in sorted(glob.glob(os.path.join(export_dir, "part-*.avro"))):
        rows.extend(read_avro_file(part)[1])
    return len(rows), row_digest(canonical_line(r) for r in rows)


def reader_check(export_dir: str, spec) -> list[str]:
    """Problems ``validate_export`` and ``avro.reader`` find in one
    export."""
    from dbeam_spark.jobs.validate_export import validate_export

    problems = []
    report = validate_export(export_dir, min_rows=spec.rows)
    if not report.ok or report.row_count != spec.rows:
        problems.append(f"validate_export: {report.to_dict()}")
    rows, digest = python_digest(export_dir)
    want = (spec.rows, spec.digest)
    if (rows, digest) != want:
        problems.append(f"avro.reader rows/digest {(rows, digest)} != {want}")
    return problems


def java_check(java: tuple[int, int] | None, spec) -> list[str]:
    want = (spec.rows, spec.digest)
    return [] if java == want else [f"Java DataFileReader rows/digest {java} != {want}"]


def read_checksums(export_dir: str) -> dict:
    with open(os.path.join(export_dir, "_CHECKSUMS.json")) as fh:
        return json.load(fh)


def read_metrics(export_dir: str) -> dict:
    with open(os.path.join(export_dir, "_METRICS.json")) as fh:
        return json.load(fh)


def same_bytes_check(export_dir: str, reference: dict) -> list[str]:
    """Problems found comparing a timed export with the checked one."""
    from dbeam_spark.avro.writer import file_crc32

    problems = []
    if not os.path.exists(os.path.join(export_dir, "_SUCCESS")):
        problems.append("_SUCCESS missing")
    recorded = read_checksums(export_dir)
    if recorded != reference:
        problems.append("_CHECKSUMS.json differs from the checked export")
    for name, want in recorded.items():
        path = os.path.join(export_dir, name)
        if (file_crc32(path), os.path.getsize(path)) != (want["crc32"], want["bytes"]):
            problems.append(f"{name}: bytes differ from _CHECKSUMS.json")
    return problems
