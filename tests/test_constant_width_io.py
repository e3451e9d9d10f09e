"""Static guard: no constant-width repartition/coalesce without a
written justification.

The constant-width trap bit in r9: cdc_rollup_demo's exports went
through `write_avro(coalesce(4))` — a 4-task Python OCF encode
regardless of run size, 20M rows at the 100x replica = serial encode
on 4 of 32 cores, 215.7 s (fixed to a full-width repartition: 44.5 s,
b 1.21 -> 0.38). theil_sen_trend carried a `repartition(32)` tuned to
local[32] (now defaultParallelism-derived). An integer-literal width
is a scale decision frozen at authoring time; every one must either
derive from the session (defaultParallelism) or be a listed exemption
whose justification says why a CONSTANT is correct at any scale
(sentinel frames, bounded-by-contract deltas, layout contracts).

Same shape as test_fractional_caps: scan, exempt with justification,
fail on dead exemptions so the list can't rot.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dbeam_spark"

# .coalesce(<int literal>) / .repartition(<int literal>) — variable
# widths (defaultParallelism expressions) and column-arg repartitions
# don't match
CONST_WIDTH = re.compile(r"\.(coalesce|repartition)\(\s*(\d+)\s*\)")

# (filename, distinctive substring) -> justification. A constant here
# must be correct at ANY scale, not just local[32].
EXEMPT: dict[tuple[str, str], str] = {
    ("streaming.py", 'df.coalesce(1).write.mode("overwrite")'):
        "_land_one_file: one landed file is one unit of stream "
        "arrival under maxFilesPerTrigger (the 1-row flush sentinel, "
        "_docs_shard_stream's 3 fixed shards, stream_late_events' "
        "two-arrival on-time/straggler split), so width 1 IS the "
        "contract; a replay harness, not a production write path "
        "(inside stream_dedup_index's measured 100x wall: 64.1 s, "
        "b=0.77)",
    ("llm.py", 'F.col("doc_id") % 2 == 0).repartition(1)'):
        "versioned_table_demo snapshot layout: ONE file per lang "
        "partition is the manifest-reference granularity the "
        "time-travel demo exercises; demo cadence, 10x probe flat "
        "(b=0.01)",
    ("llm.py", 'F.col("doc_id") % 2 == 1).repartition(1)'):
        "versioned_table_demo upsert half, same layout contract",
    ("dedup.py", '.drop("is_new").coalesce(4).write'):
        "incremental index delta landing: reads a localCheckpointed "
        "frame (no upstream collapse) and the batch is FIXED-SIZE by "
        "the ingest contract, so 4 files is output sizing (guide "
        "section 6), not an encode-width cap",
}


def _scan() -> tuple[list[str], set[tuple[str, str]]]:
    bad: list[str] = []
    used: set[tuple[str, str]] = set()
    for f in sorted(PKG.rglob("*.py")):
        for i, line in enumerate(f.read_text().splitlines()):
            if not CONST_WIDTH.search(line):
                continue
            hit = next(
                (
                    key
                    for key in EXEMPT
                    if key[0] == f.name and key[1] in line
                ),
                None,
            )
            if hit:
                used.add(hit)
                continue
            bad.append(
                f"{f.relative_to(PKG.parent)}:{i + 1}: "
                f"{line.strip()[:100]}"
            )
    return bad, used


def test_no_unjustified_constant_width():
    bad, _ = _scan()
    assert not bad, (
        "integer-literal repartition/coalesce width(s) without a "
        "justification (the cdc_rollup_demo coalesce(4) trap). "
        "Either derive the width from the session "
        "(defaultParallelism) or add a justified EXEMPT entry "
        "explaining why a constant is right at any scale:\n"
        + "\n".join(bad)
    )


def test_exemption_list_is_live():
    _, used = _scan()
    dead = set(EXEMPT) - used
    assert not dead, f"dead exemptions (code moved/removed): {dead}"


def test_detector_catches_constant_and_passes_derived():
    assert CONST_WIDTH.search("    df.coalesce(4).write.parquet(p)")
    assert CONST_WIDTH.search("    b.repartition(32).join(a)")
    assert not CONST_WIDTH.search(
        "    b.repartition(sc.defaultParallelism).join(a)"
    )
    assert not CONST_WIDTH.search('    df.repartition("key")')
