"""Versioned parquet table (A38): manifest-based snapshots — time
travel, snapshot isolation, and atomic partition upserts WITHOUT a
table-format dependency.

Plain parquet directories give atomic rewrites only at partition
granularity, readers can observe half-written states, and
yesterday's table is gone after today's write. The classic fix is a
manifest log — the core idea of Delta/Iceberg, reduced here to its
load-bearing minimum:

- data files are immutable and write-once under `data/`;
- a snapshot is a JSON manifest `_manifests/v{N}.json` listing the
  EXACT file set of that version (plus op metadata and parent);
- `_LATEST` names the current version and is updated by an atomic
  rename, so readers always resolve a complete snapshot;
- a new version's manifest is created with O_EXCL — two concurrent
  committers race on the same version number and the loser gets
  `SnapshotConflictError` (optimistic concurrency), never a merged
  half-state;
- old files are never touched by commits ⇒ every version remains
  readable (time travel).

At 100 TB the manifest lists file paths, not rows — commit cost is
O(files touched), reads prune by the manifest's partition values
before parquet footers are even opened.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Spark/Hive writes NULL partition values under this directory name.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _unescape_partition(raw: str) -> str | None:
    """Decode a Hive-style partition directory value: Spark percent-
    escapes special characters (space, ':', '/', '%', ...) as %XX in
    `col=val` directory names, and spells NULL as
    __HIVE_DEFAULT_PARTITION__. The manifest stores the DECODED value
    so it compares equal to `CAST(col AS STRING)` on the DataFrame
    side."""
    if raw == _HIVE_NULL:
        return None
    return urllib.parse.unquote(raw)


def _partition_type(df: DataFrame, partition_col: str | None) -> str | None:
    if partition_col is None:
        return None
    return df.schema[partition_col].dataType.simpleString()


class SnapshotConflictError(RuntimeError):
    """Another writer committed the same version first."""


def _manifest_dir(table: Path) -> Path:
    return table / "_manifests"


def _latest_version(table: Path) -> int:
    p = table / "_LATEST"
    if not p.exists():
        return 0
    return int(p.read_text().strip())


def _read_manifest(table: Path, version: int) -> dict:
    p = _manifest_dir(table) / f"v{version:05d}.json"
    if not p.exists():
        raise FileNotFoundError(f"no snapshot v{version} in {table}")
    return json.loads(p.read_text())


def _write_data(df: DataFrame, table: Path, partition_col: str | None) -> list[dict]:
    """Write df as immutable files under data/<commit-uuid>/ and
    return [{path, partition}] entries for the manifest."""
    stamp = uuid.uuid4().hex[:12]
    out = table / "data" / stamp
    entries: list[dict] = []
    if partition_col is None:
        df.write.mode("overwrite").parquet(str(out))
        for f in sorted(out.glob("*.parquet")):
            entries.append({"path": str(f.relative_to(table)), "partition": None})
    else:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(str(out))
        for pdir in sorted(out.glob(f"{partition_col}=*")):
            pval = _unescape_partition(pdir.name.split("=", 1)[1])
            for f in sorted(pdir.glob("*.parquet")):
                entries.append(
                    {"path": str(f.relative_to(table)), "partition": pval}
                )
    return entries


def _commit(
    table: Path,
    parent: int,
    files: list[dict],
    op: str,
    partition_col: str | None,
    partition_type: str | None = None,
) -> int:
    version = parent + 1
    _manifest_dir(table).mkdir(parents=True, exist_ok=True)
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "partition_col": partition_col,
        "partition_type": partition_type,
        "committed_at": int(time.time()),
        "files": files,
    }
    path = _manifest_dir(table) / f"v{version:05d}.json"
    try:
        # O_EXCL: exactly one writer may create v{N} — the loser of a
        # concurrent race fails here with the parent snapshot intact
        fd = os.open(str(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise SnapshotConflictError(
            f"version {version} already committed by another writer"
        ) from e
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh, indent=2)
    tmp = table / f"._LATEST.{uuid.uuid4().hex[:8]}"
    tmp.write_text(str(version))
    os.replace(tmp, table / "_LATEST")  # atomic pointer swap
    return version


def commit_snapshot(
    df: DataFrame,
    table_dir: str,
    partition_col: str | None = None,
    op: str = "overwrite",
) -> int:
    """Commit df as a full new snapshot; returns the new version."""
    table = Path(table_dir)
    table.mkdir(parents=True, exist_ok=True)
    parent = _latest_version(table)
    files = _write_data(df, table, partition_col)
    return _commit(
        table, parent, files, op, partition_col,
        _partition_type(df, partition_col),
    )


def commit_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_col: str,
    partition_col: str,
) -> int:
    """Partition-scoped upsert as a NEW snapshot: touched partitions
    are rewritten (updates win on key), untouched partitions carry
    their existing files into the new manifest BY REFERENCE — no
    read, no copy. Readers on older versions are unaffected."""
    table = Path(table_dir)
    parent = _latest_version(table)
    if parent == 0:
        return commit_snapshot(updates, table_dir, partition_col, op="upsert")
    man = _read_manifest(table, parent)
    if man["partition_col"] != partition_col:
        raise ValueError(
            f"table is partitioned by {man['partition_col']!r}, "
            f"not {partition_col!r}"
        )
    # Compare against the DataFrame's own string rendering — the
    # manifest stores unescaped values, which match CAST(col AS STRING)
    # for every partitionable type (int, date, string-with-specials).
    touched = {
        r[0]
        for r in updates.select(
            F.col(partition_col).cast("string")
        ).distinct().collect()
    }
    carried = [f for f in man["files"] if f["partition"] not in touched]
    existing = _read_files(
        spark, table, [f for f in man["files"] if f["partition"] in touched],
        partition_col, man.get("partition_type"),
    )
    if existing is not None:
        # allowMissingColumns = SCHEMA EVOLUTION on write: an upsert
        # may ADD columns (carried rows get NULLs) or omit columns the
        # table already has (new rows get NULLs) — the additive
        # evolution rules of the table formats this mirrors
        merged = updates.unionByName(
            existing.join(
                updates.select(key_col).distinct(), key_col, "left_anti"
            ),
            allowMissingColumns=True,
        )
    else:
        merged = updates
    new_files = _write_data(merged, table, partition_col)
    return _commit(
        table, parent, carried + new_files, "upsert", partition_col,
        man.get("partition_type") or _partition_type(updates, partition_col),
    )


def _read_files(
    spark: SparkSession,
    table: Path,
    files: list[dict],
    partition_col: str | None,
    partition_type: str | None = None,
) -> DataFrame | None:
    """Assemble a DataFrame from manifest entries. Partition values
    come from the MANIFEST (attached as literals per group), never
    from directory inference — commit dirs from different versions
    don't share a partition-directory layout, and metadata-driven
    reads are the table-format contract anyway (no listing, no
    inference, the manifest IS the truth)."""
    if not files:
        return None
    # mergeSchema = SCHEMA EVOLUTION on read: files written by
    # different commits may carry additive schema differences; the
    # merged schema fills missing columns with NULL (time-travel reads
    # of an old version still see only that version's files, hence
    # that version's schema)
    if partition_col is None:
        return spark.read.option("mergeSchema", "true").parquet(
            *[str(table / f["path"]) for f in files]
        )
    groups: dict[str | None, list[str]] = {}
    for f in files:
        groups.setdefault(f["partition"], []).append(str(table / f["path"]))
    df = None
    # Re-attach the partition value as a literal CAST BACK to the
    # column's original type (recorded in the manifest) — a bare
    # string literal would silently retype int/date partition columns.
    ptype = partition_type or "string"
    for pval in sorted(groups, key=lambda v: (v is None, v)):
        lit = F.lit(pval).cast(ptype)
        part = spark.read.option("mergeSchema", "true").parquet(
            *groups[pval]
        ).withColumn(partition_col, lit)
        df = (
            part
            if df is None
            else df.unionByName(part, allowMissingColumns=True)
        )
    return df


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (latest by default; pass `version` for time
    travel). The file list comes from the manifest, so concurrent
    commits never change what this reader sees."""
    table = Path(table_dir)
    v = version if version is not None else _latest_version(table)
    if v == 0:
        raise FileNotFoundError(f"table {table_dir} has no snapshots")
    man = _read_manifest(table, v)
    df = _read_files(
        spark, table, man["files"], man["partition_col"],
        man.get("partition_type"),
    )
    if df is None:
        raise FileNotFoundError(f"snapshot v{v} lists no files")
    return df


def history(table_dir: str) -> list[dict]:
    """Commit log, newest first (version, op, file count, parent)."""
    table = Path(table_dir)
    out = []
    for p in sorted(_manifest_dir(table).glob("v*.json"), reverse=True):
        m = json.loads(p.read_text())
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "op": m["op"],
                "n_files": len(m["files"]),
            }
        )
    return out
