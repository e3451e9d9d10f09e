"""CDC-style incremental JDBC → Avro export.

Beyond the reference: dbeam exports one partition per invocation (the
caller passes `--partition=2025-01-01` each day, reference
`args/QueryBuilderArgs.java:151-168`). This job makes the cadence
self-managing for append-only tables: a `_WATERMARK` state file at the
output root records the highest exported value of a monotonically
increasing column, and each invocation exports only rows above it into
a new `run_NNNNN/` directory (full dbeam layout: part files, schema,
queries, metrics, _SUCCESS) then advances the watermark atomically.

Correctness details that matter in production:
- The export is bounded on BOTH ends (`wm > last AND wm <= new_max`,
  with new_max read first via a 1-row MAX query) so rows inserted
  while the export runs are never half-captured — they wait for the
  next run.
- Each run exports into a hidden `._run_NNNNN.inprogress` dir that is
  atomically renamed to `run_NNNNN/` on success; a retry after a crash
  first clears any leftovers, so readers never see a half-written or
  mixed-attempt run directory.
- The watermark file is written via tmp + os.replace (atomic on POSIX)
  and only AFTER the run dir is published, so a crashed export re-runs
  the same window instead of silently skipping it.
- Filters ride the generated SQL (dbeam's own string-built WHERE
  contract, `args/QueryBuilder.java:40-110`), so the database scans
  only the new window; with `--splitColumn/--queryParallelism` the
  window itself splits into ranged partition scans.

100 TB posture: each run is a map-only scan→encode→write of the delta
only; state is O(1) regardless of table size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import replace
from pathlib import Path

from pyspark.sql import SparkSession

from dbeam_spark.jobs.jdbc_avro_job import run_export
from dbeam_spark.options import JdbcExportOptions, parse_args
from dbeam_spark.passwords import read_password
from dbeam_spark.query_builder import base_query
from dbeam_spark.sources.jdbc import _base_reader

STATE_FILE = "_WATERMARK"


def _load_state(root: Path) -> dict:
    p = root / STATE_FILE
    if p.exists():
        return json.loads(p.read_text())
    return {"column": None, "value": None, "runs": []}


def _save_state(root: Path, state: dict) -> None:
    fd, tmp = tempfile.mkstemp(dir=str(root), prefix="._watermark_")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(state, fh, indent=2, default=str)
            fh.write("\n")
        os.replace(tmp, str(root / STATE_FILE))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _literal(value, numeric: bool) -> str:
    if numeric:
        return str(value)
    # String watermarks can themselves contain quotes; escape them so
    # the generated WHERE clause stays valid (and data can't inject SQL).
    return "'" + str(value).replace("'", "''") + "'"


def run_incremental(
    spark: SparkSession,
    opts: JdbcExportOptions,
    watermark_column: str,
    numeric_watermark: bool = True,
) -> dict:
    """One incremental run; returns metrics + watermark info."""
    opts.validate()
    root = Path(opts.output)
    root.mkdir(parents=True, exist_ok=True)
    state = _load_state(root)
    if state["column"] not in (None, watermark_column):
        raise ValueError(
            f"watermark column changed: state has {state['column']!r}, "
            f"got {watermark_column!r}"
        )
    password = read_password(
        opts.password, opts.passwordFile, opts.passwordFileKmsEncrypted
    )

    if opts.table:
        base = base_query(opts.table)
    else:
        base = base_query(sql=Path(opts.sqlFile).read_text())
    lower = (
        f" AND {watermark_column} > {_literal(state['value'], numeric_watermark)}"
        if state["value"] is not None
        else ""
    )

    max_sql = (
        f"SELECT MAX({watermark_column}) AS wm_max FROM ({base}{lower}) "
        "AS incr_bounds"
    )
    row = (
        _base_reader(spark, opts, password)
        .option("dbtable", f"({max_sql}) wm_q")
        .load()
        .collect()
    )
    new_max = row[0][0] if row else None
    if new_max is None:
        return {
            "rows": 0,
            "run_dir": None,
            "watermark": state["value"],
            "skipped": True,
        }

    window_sql = (
        f"{base}{lower} AND {watermark_column} <= "
        f"{_literal(new_max, numeric_watermark)}"
    )
    run_id = len(state["runs"])
    run_dir = root / f"run_{run_id:05d}"
    tmp_dir = root / f"._run_{run_id:05d}.inprogress"
    # A crash between _SUCCESS and the watermark save re-runs this
    # run_id; clear any leftovers from the earlier attempt so stale
    # part files can't survive next to the retry's output, then
    # publish atomically (write to tmp, rename into place).
    for stale in (tmp_dir, run_dir):
        if stale.exists():
            shutil.rmtree(stale)
    with tempfile.NamedTemporaryFile(
        "w", suffix=".sql", delete=False
    ) as fh:
        fh.write(window_sql)
        sql_path = fh.name
    try:
        sub = replace(
            opts, table=None, sqlFile=sql_path, output=str(tmp_dir)
        )
        metrics = run_export(spark, sub)
    finally:
        os.unlink(sql_path)
    os.rename(tmp_dir, run_dir)

    state["column"] = watermark_column
    state["value"] = new_max
    state["runs"].append(
        {
            "run": run_id,
            "dir": run_dir.name,
            "rows": metrics.get("recordCount", 0),
            "watermark": str(new_max),
            "ts": time.time(),
        }
    )
    _save_state(root, state)
    return {
        "rows": metrics.get("recordCount", 0),
        "run_dir": str(run_dir),
        "watermark": new_max,
        "skipped": False,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    from dbeam_spark.errors import exit_code
    from dbeam_spark.session import get_spark

    args = list(argv) if argv is not None else list(sys.argv[1:])
    wm_col, wm_numeric, rest = None, True, []
    for a in args:
        if a.startswith("--watermarkColumn="):
            wm_col = a.split("=", 1)[1]
        elif a.startswith("--watermarkNumeric="):
            wm_numeric = a.split("=", 1)[1].lower() != "false"
        else:
            rest.append(a)
    if not wm_col:
        print("--watermarkColumn is required")
        return 43
    opts = parse_args(rest)
    spark = get_spark("dbeam-incremental")
    try:
        result = run_incremental(spark, opts, wm_col, wm_numeric)
        print(json.dumps(result, default=str))
        return 0
    except Exception as exc:  # noqa: BLE001 — CLI boundary, map to exit codes
        print(f"incremental export failed: {exc}")
        return exit_code(exc)


if __name__ == "__main__":
    raise SystemExit(main())
