"""Compact incremental-export runs into one snapshot directory.

Beyond the reference: dbeam's per-partition invocations (and our
incremental_export runs) each land their own directory of part files.
Consumers of a long-lived table accumulate hundreds of small runs —
the classic small-file problem: at 100 TB the read amplification and
NameNode/listing pressure of thousands of tiny Avro files dominates
query time. This job folds `run_*/` directories into a single
`snapshot_*/` export with the standard dbeam layout (part files,
_AVRO_SCHEMA.avsc, _METRICS.json, _SUCCESS):

- Append-only tables: a pure distributed re-write into
  `target_files` output files (one encoder task per file).
- CDC-style feeds (`primary_key` given): last-write-wins upsert —
  rows from later runs replace earlier rows with the same key, via
  one window over (key, run index). This is the batch "apply" half
  of the export/load CDC loop.

The snapshot is derived state: runs are left untouched, the write is
atomic (tmp dir + rename), and re-running compaction is idempotent.
Reading decodes one task per input file (sources/avro.py), so the job
is a shuffle-free map for append-only inputs and a single key-shuffle
for upserts.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbeam_spark.avro.reader import read_avro_schema
from dbeam_spark.avro.schema import to_json
from dbeam_spark.avro.writer import (
    unsorted_round_robin,
    write_avro,
    write_checksums,
)
from dbeam_spark.sources.avro import read_avro


def _run_dirs(root: Path) -> list[Path]:
    runs = sorted(
        p for p in root.glob("run_*") if p.is_dir() and (p / "_SUCCESS").exists()
    )
    if not runs:
        raise FileNotFoundError(f"No completed run_* dirs under {root}")
    return runs


def compact_runs(
    spark: SparkSession,
    root: str,
    primary_key: str | None = None,
    target_files: int = 8,
    codec: str = "deflate6",
    snapshot_name: str | None = None,
) -> dict:
    """Fold all completed runs under `root` into one snapshot export.

    Returns {snapshot_dir, rows, input_runs, input_files, bytes}.
    """
    rootp = Path(root)
    runs = _run_dirs(rootp)
    name = snapshot_name or f"snapshot_{len(runs):05d}"
    snap = rootp / name
    tmp = rootp / f"._{name}.inprogress"
    for stale in (tmp, snap):
        if stale.exists():
            shutil.rmtree(stale)

    # Schema from the first run's first part file (header-only read).
    first_part = sorted(runs[0].glob("part-*.avro"))
    if not first_part:
        raise FileNotFoundError(f"No part files in {runs[0]}")
    avro_schema = read_avro_schema(str(first_part[0]))

    df: DataFrame | None = None
    n_files = 0
    for idx, run in enumerate(runs):
        n_files += len(list(run.glob("part-*.avro")))
        # timestamps stay epoch-millis longs end-to-end: no decode /
        # re-encode round trip, and the output schema matches the input
        part = read_avro(spark, str(run), logical_as_timestamp=False)
        if primary_key is not None:
            part = part.withColumn("__run", F.lit(idx))
        df = part if df is None else df.unionByName(part)

    if primary_key is not None:
        w = Window.partitionBy(primary_key).orderBy(F.col("__run").desc())
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__run")
        )

    df = df.repartition(target_files)
    os.makedirs(tmp, exist_ok=True)
    with unsorted_round_robin(spark):
        stats = write_avro(df, str(tmp), avro_schema, codec=codec)
    rows = sum(s["rows"] for s in stats)
    nbytes = sum(s["bytes"] for s in stats)
    (tmp / "_AVRO_SCHEMA.avsc").write_text(to_json(avro_schema) + "\n")
    write_checksums(tmp, stats)
    (tmp / "_METRICS.json").write_text(
        json.dumps(
            {
                "recordCount": rows,
                "bytesWritten": nbytes,
                "inputRuns": len(runs),
                "inputFiles": n_files,
                "compactedAt": time.time(),
            },
            indent=2,
        )
    )
    (tmp / "_SUCCESS").write_text("")
    os.rename(tmp, snap)
    return {
        "snapshot_dir": str(snap),
        "rows": rows,
        "input_runs": len(runs),
        "input_files": n_files,
        "bytes": nbytes,
    }
