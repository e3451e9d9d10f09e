"""Incremental maintenance of a materialized JOIN view (A39).

`rollup_maintain` (A36) maintains an AGGREGATE view over append-only
runs; this job maintains an equi-JOIN view — the other classic
incremental-view-maintenance case. For appends dL, dR against
accumulated sides L, R the view delta is the standard three-term
delta join:

    d(L ⋈ R) = dL ⋈ R  ∪  L ⋈ dR  ∪  dL ⋈ dR

so each maintenance call joins ONLY the delta rows against the other
side (never re-joins the full view), and appends the result as a
deterministic `delta_NNNNN/` directory under the view.

Idempotency by numbered overwrite, not append: every write this call
makes — the view delta AND the two side accumulators — lands in
directories named by this call's index, in OVERWRITE mode, and the
state file advances only after all three land. A crash anywhere
re-runs the same index and overwrites the same directories;
re-running a completed call is a byte-identical no-op. (Appending
into a shared directory would double-count on exactly that crash.)

Scale: the three delta-join terms shuffle O(|delta|) rows from the
delta sides; the accumulated side is read through a join whose other
input is small — at 100 TB the accumulators would be stored bucketed
by the join key (Spark's `bucketBy`), making each term a co-located
join that reads only matching buckets. The view
itself is never read during maintenance — only written.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

STATE_FILE = "_JOIN_VIEW_STATE.json"


def _load_state(view_dir: Path) -> dict:
    p = view_dir / STATE_FILE
    if p.exists():
        return json.loads(p.read_text())
    return {"next_idx": 0}


def _save_state(view_dir: Path, state: dict) -> None:
    fd, tmp = tempfile.mkstemp(dir=str(view_dir), suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(state, fh, indent=2, sort_keys=True)
    os.replace(tmp, view_dir / STATE_FILE)  # atomic on POSIX


def _acc_frames(
    spark: SparkSession, root: Path, upto_idx: int, template: DataFrame
) -> DataFrame:
    """Union of all landed delta dirs below `root` with index < upto_idx
    (an empty accumulator reads as an empty frame with the delta's
    schema)."""
    dirs = [
        str(root / f"delta_{i:05d}")
        for i in range(upto_idx)
        if (root / f"delta_{i:05d}").exists()
    ]
    if not dirs:
        return spark.createDataFrame([], template.schema)
    return spark.read.schema(template.schema).parquet(*dirs)


def maintain_join_view(
    spark: SparkSession,
    view_dir: str,
    left_key: str,
    right_key: str,
    left_delta: DataFrame | None = None,
    right_delta: DataFrame | None = None,
) -> dict:
    """Apply one maintenance step. Returns {idx, view_rows_added}."""
    root = Path(view_dir)
    root.mkdir(parents=True, exist_ok=True)
    state = _load_state(root)
    idx = state["next_idx"]

    if left_delta is None and right_delta is None:
        raise ValueError("at least one side must have a delta")
    # templates: first call must provide both schemas at least once
    l_tmpl = left_delta
    r_tmpl = right_delta
    if l_tmpl is None or r_tmpl is None:
        meta = state.get("schemas")
        if meta is None:
            raise ValueError(
                "first maintenance call must provide BOTH deltas "
                "(schemas are recorded from them)"
            )
        from pyspark.sql.types import StructType

        if l_tmpl is None:
            l_tmpl = spark.createDataFrame(
                [], StructType.fromJson(json.loads(meta["left"]))
            )
        if r_tmpl is None:
            r_tmpl = spark.createDataFrame(
                [], StructType.fromJson(json.loads(meta["right"]))
            )

    l_acc = _acc_frames(spark, root / "left", idx, l_tmpl)
    r_acc = _acc_frames(spark, root / "right", idx, r_tmpl)
    dl = left_delta if left_delta is not None else l_tmpl.limit(0)
    dr = right_delta if right_delta is not None else r_tmpl.limit(0)

    cond_new = dl[left_key] == r_acc[right_key]
    cond_old = l_acc[left_key] == dr[right_key]
    cond_dd = dl[left_key] == dr[right_key]
    inc = (
        dl.join(r_acc, cond_new)
        .unionByName(l_acc.join(dr, cond_old))
        .unionByName(dl.join(dr, cond_dd))
    )

    tag = f"delta_{idx:05d}"
    inc.write.mode("overwrite").parquet(str(root / "view" / tag))
    dl.write.mode("overwrite").parquet(str(root / "left" / tag))
    dr.write.mode("overwrite").parquet(str(root / "right" / tag))
    added = spark.read.parquet(str(root / "view" / tag)).count()

    state["next_idx"] = idx + 1
    state["schemas"] = {
        "left": json.dumps(l_tmpl.schema.jsonValue()),
        "right": json.dumps(r_tmpl.schema.jsonValue()),
    }
    _save_state(root, state)
    return {"idx": idx, "view_rows_added": added}


def read_join_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The maintained view: union of every landed view delta."""
    root = Path(view_dir)
    state = _load_state(root)
    dirs = [
        str(root / "view" / f"delta_{i:05d}")
        for i in range(state["next_idx"])
        if (root / "view" / f"delta_{i:05d}").exists()
    ]
    if not dirs:
        raise ValueError(f"no maintained view under {view_dir}")
    return spark.read.parquet(*dirs)
