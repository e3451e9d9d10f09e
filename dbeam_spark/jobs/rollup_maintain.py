"""Incremental rollup maintenance over export runs (A36).

`incremental_export` (A26) lands append-only deltas as `run_NNNNN/`
Avro directories; consumers usually want a day-grained aggregate, not
the raw runs. This job MAINTAINS such a rollup incrementally: each
invocation processes only runs it hasn't seen, recomputes only the
DAYS those runs touch, and rewrites only those day partitions of the
rollup — incremental view maintenance without a table format.

Idempotency by recomputation (not merge): a touched day is always
rebuilt from EVERY run that contains it (a day→runs index in the
state file bounds which runs are re-read), never by adding a delta
into the existing rollup row. Adding partials double-counts if a
crash lands between the partition overwrite and the state write;
recomputation is a deterministic function of the run files, so
re-running after any crash converges to the same bytes.

Scale: for time-ordered appends a new run touches recent days, and
recent days live in few runs — each maintenance reads O(new data),
not O(table). The rollup write is a dynamic partition overwrite of
the touched days only (untouched partitions are never read or
written).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbeam_spark.jobs import _load_state, _save_state

STATE_FILE = "_ROLLUP_STATE.json"


def _read_run(spark: SparkSession, run_dir: Path) -> DataFrame:
    from dbeam_spark.sources.avro import read_avro

    return read_avro(spark, str(run_dir))


def maintain_rollup(
    spark: SparkSession,
    runs_root: str,
    rollup_dir: str,
    ts_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    primary_key: str | None = None,
    op_col: str | None = None,
) -> dict:
    """Bring the rollup up to date with `runs_root`'s `run_*` dirs.

    The rollup schema is (day, *group_cols, n_rows, sum_<c>...),
    hive-partitioned by `day` (a date-truncated timestamp). Returns
    {"new_runs": [...], "rebuilt_days": [...]}.

    CDC mode (`primary_key` + `op_col`): runs may carry UPDATES and
    DELETES of earlier rows — each delta row is the full record plus
    an op marker ('I'/'U'/'D'). Within the touched days the
    contributing runs are first reduced to the LATEST version per key
    (run order is the CDC order; later run wins), tombstones are
    dropped, and only then does the day aggregate run — materialized-
    view maintenance under retractions, still by recomputation: a
    delta is never "subtracted" from the standing rollup, so crash
    replay converges to identical bytes exactly as in append-only
    mode. The reduction stays bounded: it runs over the touched-day
    slice of the contributing runs, never the whole history.

    CDC contract: `ts_col` (the day grain) is immutable per key —
    updates/deletes carry the original event time (the usual CDC
    envelope), so every version of a key lands in the same day slice
    and last-writer-wins is complete. Group/measure columns may
    change freely between versions."""
    root, out = Path(runs_root), Path(rollup_dir)
    out.mkdir(parents=True, exist_ok=True)
    state = _load_state(out / STATE_FILE, {"runs": {}})
    all_runs = sorted(
        d.name
        for d in root.iterdir()
        if d.is_dir() and d.name.startswith("run_")
    )
    new_runs = [r for r in all_runs if r not in state["runs"]]
    if not new_runs:
        return {"new_runs": [], "rebuilt_days": []}

    day = F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd")
    # 1. which days do the new runs touch?
    new_days: set[str] = set()
    run_days: dict[str, list[str]] = {}
    for r in new_runs:
        days = [
            row[0]
            for row in _read_run(spark, root / r)
            .select(day.alias("d"))
            .distinct()
            .collect()
        ]
        run_days[r] = sorted(days)
        new_days |= set(days)

    # 2. every run (old or new) containing a touched day contributes
    contributing = [
        r
        for r in all_runs
        if r in new_runs or set(state["runs"].get(r, [])) & new_days
    ]
    frames = []
    for r in contributing:
        df = _read_run(spark, root / r).withColumn("day", day)
        if primary_key is not None:
            # run order IS the CDC order; all_runs is name-sorted
            df = df.withColumn("__run", F.lit(all_runs.index(r)))
        frames.append(df.filter(F.col("day").isin(sorted(new_days))))
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)

    if primary_key is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(primary_key).orderBy(F.col("__run").desc())
        union = (
            union.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__run")
        )
        if op_col is not None:
            union = union.filter(F.col(op_col) != "D").drop(op_col)

    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    rebuilt = union.groupBy("day", *group_cols).agg(*aggs)

    # 3. rewrite ONLY the touched day partitions
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        rebuilt.write.mode("overwrite").partitionBy("day").parquet(
            str(out / "data")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # 4. atomic state update LAST: a crash before this line re-runs
    #    the same recomputation and produces identical partitions
    state["runs"].update(run_days)
    _save_state(out / STATE_FILE, state)
    return {"new_runs": new_runs, "rebuilt_days": sorted(new_days)}


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(rollup_dir) / "data"))
