"""JDBC → Avro export benchmark on embedded Derby, with a per-layer split.

Runs dbeam's real export path — embedded Derby → ``sources.jdbc``
ranged scan → ``avro.writer`` → ``jobs.jdbc_avro_job`` metadata — and
the repository's headline analytics queries, as a closed loop with one
client: one export or one query at a time, on ``local[<nproc>]``.

    python3 perfbench/run.py --workload export_bulk_split --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all    # every workload, one table

Run it from a checkout of the repository: it imports ``dbeam_spark``
from the directory above this one and keeps everything it writes
(Derby fixtures, query tables, exports, spans, Spark and JVM scratch)
under ``.perfbench_work/`` there. The seed generates the exported
tables and the query tables and sets the order of the queries; the
program sees only those inputs.

With ``--trace 0`` the last stdout line reports the end-to-end
metrics; with ``--trace 1`` the per-layer ones (see
``perfbench/README.md`` for the layer → end-to-end → workload map).
Every export and every query result is checked outside the timed
passes; a raised exception or a failed check counts in ``failed``.
"""

import time

_T0 = time.monotonic()  # setup_s runs from here: a fresh process

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

_SPLIT = {"shape": "lineitem", "rows": 100_000, "tables": 1}
WORKLOADS = {
    "export_bulk_split": {
        "why": "dbeam's parallel export (--splitColumn, --queryParallelism=nproc): "
        "encode and deflate on all cores; decimals take the scalar path",
        "kind": "export", **_SPLIT, "split": True, "min_passes": 1,
    },
    "queries_headline": {
        "why": "the 18 headline analytics queries, checked against DuckDB: shuffle- "
        "and stage-bound, no JDBC and no Avro writer",
        "kind": "queries", "min_passes": 2,
    },
    # Not in BENCHMARK.json (see perfbench/README.md), runnable by name.
    "export_bulk_unsplit": {
        "why": "dbeam's default one-query export: the same layers serially on one "
        "core, so per-task cost and in-task stage overlap show here",
        "kind": "export", **_SPLIT, "split": False, "min_passes": 1,
    },
    "export_many_small": {
        "why": "nightly many-tables traffic: fixed cost per export (planning, job "
        "launch, metadata files) dominates and the encoder does little",
        "kind": "export", "shape": "small", "rows": 5_000, "tables": 16,
        "split": False, "min_passes": 1,
    },
}

END_TO_END = {
    "pass_s": "s",
    "rows_per_min": "rows/min",
    "op_s.p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_EXPORT_LAYERS = {
    "sources.jdbc.find_input_bounds_s": "s",
    "sources.jdbc.read_jdbc_s": "s",
    "sources.jdbc.fetch_s": "s",
    "sources.jdbc.arrow_handoff_s": "s",
    "sources.jdbc.fetch_rows_per_s": "1/s",
    "avro.schema.spark_schema_to_avro_s": "s",
    "avro.writer.encode_s": "s",
    "avro.writer.encode_ns_per_cell": "ns",
    "avro.writer.compress_s": "s",
    "avro.writer.compress_ratio": "ratio",
    "avro.writer.write_avro_s": "s",
    "avro.writer.write_call_s": "s",
    "avro.writer.files": "count",
    "avro.writer.blocks": "count",
    "avro.writer.bytes_per_row": "B/row",
    "jobs.jdbc_avro_job.run_export_s": "s",
    "jobs.jdbc_avro_job.residual_s": "s",
    "metrics.writeElapsedMs": "ms",
    "metrics.executeQueryElapsedMs": "ms",
    "avro.reader.readback_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; needs the package path."""
    from bench import HEADLINE

    queries = {
        f"queries.{name}.{key}": unit
        for name in HEADLINE
        for key, unit in (("s", "s"), ("tasks", "count"), ("shuffle_bytes", "B"), ("cpu_s", "s"))
    }
    return {
        "session.get_spark_s": "s",
        **_EXPORT_LAYERS,
        **queries,
        "queries.stages": "count",
        "queries.spill_bytes": "B",
        "queries.executor_run_s": "s",
        "trace.overhead_s": "s",
    }


def process_tree(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (OSError, ValueError):
            pass  # the process ended while being read
    return pids


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler(threading.Thread):
    """Peak of the RSS summed over this process and its descendants
    (the JVM and its Python workers), polled every 100 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError):
                pass  # the process ended while being read
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_event.wait(0.1)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of the samples
    with at least ten samples beyond it — the maximum when there are
    ten or fewer."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def prepare_environment() -> None:
    """Point every process this run starts at the checkout: the
    package for the Python workers, scratch space for Spark and the
    JVM (no perf data file in /tmp)."""
    for d in ("tmp", "spark-local", "derby-home"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby-home')}",
    ])
    sys.path[:0] = [ROOT, HERE]


def start_spark():
    """A ready session, as a dbeam run starts one: ``get_spark`` plus
    one trivial job. Returns (session, get_spark seconds)."""
    from dbeam_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.monotonic() - t
    spark.range(1).count()
    return spark, get_spark_s


def stop_spark(spark) -> None:
    """Stop the session, then its JVM and the Python workers the JVM
    started, and wait until each has ended."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    started = process_tree(os.getpid())[1:]
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(running, started)) and time.monotonic() < deadline:
        time.sleep(0.05)


def measure(bench, seconds: float, trace: bool, min_passes: int) -> dict:
    """At least ``min_passes`` passes and about ``seconds`` of pass
    time. With tracing, passes run untraced, traced, traced,
    untraced, and so on, at least two of each, so that the warming
    JVM favours neither side of ``trace.overhead_s``."""
    passes: dict[bool, list[float]] = {False: [], True: []}
    latencies: list[float] = []
    need = 2 if trace else min_passes
    measured = last = 0.0
    rss = RssSampler()
    rss.start()
    try:
        while (
            len(passes[False]) < need
            or (trace and len(passes[True]) < need)
            or measured + last / 2 < seconds
        ):
            traced = trace and (len(passes[False]) + len(passes[True])) % 4 in (1, 2)
            last, lat = bench.timed_pass(traced)
            measured += last
            passes[traced].append(last)
            if not traced:
                latencies.extend(lat)
    finally:
        peak = rss.stop()
    pass_s = statistics.median(passes[False])
    return {
        "passes": passes,
        "latencies": latencies,
        "metrics": {
            "pass_s": pass_s,
            "rows_per_min": bench.rows_per_pass * 60 / pass_s,
            "op_s.p50": statistics.median(latencies),
            "peak_rss_mb": peak / 2**20,
        },
    }


def provenance(spark, workload: str, bench, seed: int, seconds: float) -> dict:
    sc = spark.sparkContext
    return {
        "workload": workload,
        "why": WORKLOADS[workload]["why"],
        "seed": seed,
        "seconds": seconds,
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "load": "closed loop, one client, one operation at a time",
        **bench.describe(),
    }


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if not os.path.isfile(os.path.join(ROOT, "dbeam_spark", "__init__.py")):
        print(f"perfbench: no dbeam_spark package in {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    spark, get_spark_s = start_spark()
    setup_s = time.monotonic() - _T0
    cfg = WORKLOADS[workload]
    try:
        import tracing
        from exportbench import ExportBench
        from querybench import QueryBench

        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(f"{workload}-s{seed}")
        phases = {}
        t = time.monotonic()
        kind = ExportBench if cfg["kind"] == "export" else QueryBench
        bench = kind(spark, WORK, cfg, seed, tracer)
        phases["inputs_s"] = time.monotonic() - t
        bench.warm_up()
        phases["warm_up_s"] = time.monotonic() - t - phases["inputs_s"]
        t = time.monotonic()
        measured = measure(bench, seconds, trace, cfg["min_passes"])
        phases["measure_s"] = time.monotonic() - t
        t = time.monotonic()
        bench.verify()
        phases["verify_s"] = time.monotonic() - t
        metrics = measured["metrics"]
        if trace:
            t = time.monotonic()
            passes = measured["passes"]
            units = per_layer_units()
            metrics = {
                **dict.fromkeys(units, 0.0),  # layers this workload does not run
                **bench.layer_metrics(),
                "session.get_spark_s": get_spark_s,
                "trace.overhead_s": statistics.median(passes[True]) - statistics.median(passes[False]),
            }
            phases["layers_s"] = time.monotonic() - t
            tracer.write(os.path.join(WORK, f"spans-{workload}-s{seed}.jsonl"))
        prov = provenance(spark, workload, bench, seed, seconds)
    finally:
        stop_spark(spark)
    if not trace:
        units = END_TO_END
        metrics["setup_s"] = setup_s
    prov["phases"] = phases
    prov["passes"] = {("traced" if k else "untraced"): v for k, v in measured["passes"].items() if v}
    print(json.dumps({"provenance": prov}))
    if trace:
        print(
            "note: layer metrics are medians per export or per query over the traced "
            "passes; the isolated layer calls (noop fetch, Arrow count, single-thread "
            "encode, cached write, readback) are extra calls on the same inputs, not "
            "spans inside the real export; layers a workload does not run read 0; "
            "trace.overhead_s is traced minus untraced pass_s"
        )
    for problem in bench.problems:
        print(f"FAILED {problem}")
    for name, unit in units.items():
        print(f"{name:48s} {metrics[name]:>16.6g} {unit}")
    if not trace:
        value, pct, n = tail(measured["latencies"])
        print(f"{'op_s.tail (p%.4g of %d)' % (pct, n):48s} {value:>16.6g} s")
    print(f"{'failed_ratio':48s} {len(bench.failed) / bench.attempted:>16.6g} ratio")
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": len(bench.failed),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own fresh process, then one table."""
    results = {}
    for workload in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
            capture_output=True, text=True, timeout=600,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr)
            return proc.returncode
        results[workload] = json.loads(proc.stdout.strip().splitlines()[-1])
    first = next(iter(results.values()))["metrics"]
    print(f"{'metric':48s} " + " ".join(f"{w:>20s}" for w in results) + "  unit")
    for name, m in first.items():
        vals = " ".join(f"{r['metrics'][name]['value']:>20.6g}" for r in results.values())
        print(f"{name:48s} {vals}  {m['unit']}")
    ratios = " ".join(f"{r['failed'] / r['attempted']:>20.6g}" for r in results.values())
    print(f"{'failed_ratio':48s} {ratios}  ratio")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {
            f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()
        },
    }))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
