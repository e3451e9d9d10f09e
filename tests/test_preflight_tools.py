"""Guards on the round-operations tooling itself: the preflight must
HARD-fail when a scale-probe replica was built from testdata that has
since been regenerated (round-5 lesson: a stale replica quietly
flattens every probe ratio)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(__file__), "..", "tools")
)


def _fake_source(dirpath) -> None:
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / "lineitem.parquet").write_bytes(b"x" * 64)
    (dirpath / "orders.parquet").write_bytes(b"y" * 32)


def test_preflight_fails_on_stale_replica(tmp_path):
    from preflight import check_probe_replicas
    from scale_probe import source_key

    base = tmp_path / "base"
    _fake_source(base)
    replica = tmp_path / "replicas" / "scale10"
    _fake_source(replica)
    (replica / "_SOURCE_KEY").write_text(source_key(str(base)))

    glob_pat = str(tmp_path / "replicas" / "scale*")
    # fresh replica: clean
    assert check_probe_replicas(glob_pat, str(base)) == 0

    # regenerate the source (content + mtime change) -> replica stale
    (base / "lineitem.parquet").write_bytes(b"z" * 128)
    os.utime(base / "lineitem.parquet")
    assert check_probe_replicas(glob_pat, str(base)) == 1

    # a replica with NO key at all is stale too
    (replica / "_SOURCE_KEY").unlink()
    assert check_probe_replicas(glob_pat, str(base)) == 1


def test_preflight_ignores_non_replica_dirs(tmp_path):
    from preflight import check_probe_replicas

    base = tmp_path / "base"
    _fake_source(base)
    # a dir matching the glob but without lineitem.parquet is not a
    # replica (e.g. an unrelated /tmp/scale-notes dir) — skipped
    (tmp_path / "replicas" / "scalejunk").mkdir(parents=True)
    glob_pat = str(tmp_path / "replicas" / "scale*")
    assert check_probe_replicas(glob_pat, str(base)) == 0


def test_bench_summary_line_contract(tmp_path, monkeypatch):
    """The bench's LAST stdout line must be the compact machine-read
    summary, parseable and under SUMMARY_LINE_BUDGET bytes even with
    a full-size registry worth of keys — the r5 failure (one
    oversized line, driver recorded 'parsed': null) can't recur."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    # worst-case realistic payload: 40 headline + 60 extended keys,
    # 3 runs each with long float reprs
    per_query = {f"very_long_query_name_{i:03d}": 1.234 for i in range(40)}
    extended = {f"extended_query_name_{i:03d}": 12.345 for i in range(60)}
    runs = {
        k: [1.234, 2.345, 3.456]
        for k in list(per_query) + list(extended)
    }
    lines = bench.emit_lines(
        total=99.9, per_query=per_query, extended=extended, runs=runs,
        sf="0.1", sf_dir="/root/testdata/sf0.1",
        rows_per_minute=50_000_000, regressions=[],
    )
    assert len(lines) == 2
    summary = json.loads(lines[-1])  # LAST line parses
    assert summary["metric"] == "headline_queries_total"
    assert summary["value"] == 99.9
    assert "runs" not in summary  # spreads never ride the summary
    assert len(lines[-1]) <= bench.SUMMARY_LINE_BUDGET
    # the spreads line precedes and carries every run array
    spreads = json.loads(lines[0])
    assert set(spreads["runs"]) == set(runs)
    # sidecar write is a separate, explicit step (emit_lines is pure)
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    bench.write_runs_sidecar(lines[0])
    assert (tmp_path / "BENCH_RUNS.json").exists()


def test_bench_summary_carries_calibration_and_normalized():
    """r8: the summary line must carry the calibration block and the
    host-normalized total, and the spreads line the per-key
    normalized view — the fields the round-over-round perf read
    depends on (r7 What's-wrong #1)."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    calibration = {
        "cpu_sec": 0.09, "spark_sec": 0.8,
        "spark_sec_interleaved": 1.24, "host_factor": 2.0,
    }
    lines = bench.emit_lines(
        total=10.0, per_query={"q1": 4.0, "q2": 6.0}, extended={},
        runs={"q1": [4.0], "q2": [6.0]}, sf="0.1", sf_dir="/x",
        rows_per_minute=1, regressions=[], calibration=calibration,
        compilations=[0, 0, 0],
    )
    summary = json.loads(lines[-1])
    assert summary["calibration"]["host_factor"] == 2.0
    assert summary["value_normalized"] == 5.0  # 10.0 / 2.0
    assert "codegen_compilations" not in summary
    spreads = json.loads(lines[0])
    assert spreads["queries_normalized"] == {"q1": 2.0, "q2": 3.0}
    assert spreads["calibration"] == calibration
    assert spreads["codegen_compilations"] == [0, 0, 0]


def test_bench_summary_sheds_to_fit_any_payload():
    """The shedding ladder must bound the summary line even for a
    pathological payload (hundreds of long keys + a flood of
    regressions) — the r5 'parsed: null' failure had exactly one
    shedding step and no check after it."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    per_query = {
        f"pathologically_long_query_name_{'x' * 40}_{i:04d}": 1.234
        for i in range(400)
    }
    extended = {f"ext_{'y' * 60}_{i:04d}": 9.87 for i in range(400)}
    regressions = [f"key_{i} regressed beyond the documented floor" * 3
                   for i in range(50)]
    lines = bench.emit_lines(
        total=1.0, per_query=per_query, extended=extended,
        runs={}, sf="0.1", sf_dir="/x",
        rows_per_minute=1, regressions=regressions,
    )
    assert len(lines[-1]) <= bench.SUMMARY_LINE_BUDGET
    summary = json.loads(lines[-1])
    assert summary["value"] == 1.0  # total always survives
    assert summary.get("queries_shed", 0) > 0  # ladder reached keys
    # caller's dict is not mutated by the shedding
    assert len(per_query) == 400


def test_bench_summary_carries_resolved_cpus():
    """r9 verdict #2: the summary line must prove the resolved core
    count (master string + defaultParallelism) so the driver's
    suspect_cpus_ignored heuristic can't false-positive when sf0.1
    keys are job-floor-bound."""
    import json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    lines = bench.emit_lines(
        total=10.0, per_query={"q1": 10.0}, extended={},
        runs={"q1": [10.0]}, sf="0.1", sf_dir="/x",
        rows_per_minute=1, regressions=[],
        resolved={"master": "local[8]", "default_parallelism": 8},
    )
    summary = json.loads(lines[-1])
    assert summary["cpus"] == 8
    assert summary["master"] == "local[8]"
