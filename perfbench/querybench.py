"""The analytics query workload.

One pass runs the headline queries of ``bench.py`` (imported, not
copied) over seeded parquet tables (``querydata.py``), one query at a
time, in an order the seed shuffles, each collected with
``toPandas()``. After the pass clock stops, every result is compared
with its DuckDB oracle through ``tools/check_correctness.canon_hash``.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import checks
import fixture
import querydata
import tracing

SCALE = 1.0
WARM_UP_PASSES = 2


class QueryBench(checks.Outcomes):
    def __init__(self, spark, work: str, cfg: dict, seed: int, tracer: tracing.Tracer) -> None:
        import duckdb
        from bench import HEADLINE
        from tools.check_correctness import canon_hash

        from dbeam_spark.queries import ORACLES

        super().__init__()
        self.spark = spark
        self.tracer = tracer
        self.canon_hash = canon_hash
        self.dir = querydata.data_dir(work, seed, SCALE)
        fixture.evict(work, keep=self.dir)
        self.table_rows = querydata.build(self.dir, seed, SCALE)
        os.utime(self.dir)
        self.names = list(HEADLINE)
        random.Random(seed).shuffle(self.names)
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.oracle = {}
            for name in self.names:
                pdf = con.execute(ORACLES[name]).df()
                self.oracle[name] = (len(pdf), canon_hash(pdf))
        finally:
            con.close()
        self.rows_per_pass = sum(rows for rows, _ in self.oracle.values())
        self.traced: list[dict] = []  # per traced query: name, span, job group

    def describe(self) -> dict:
        return {
            "queries": self.names,
            "table_rows": self.table_rows,
            "result_rows": self.rows_per_pass,
        }

    def _check(self, op: int, name: str, pdf) -> None:
        try:
            got = (len(pdf), self.canon_hash(pdf))
            problems = [] if got == self.oracle[name] else [f"rows/hash {got} != oracle {self.oracle[name]}"]
        except Exception as e:  # noqa: BLE001 - a failed check is a failure
            problems = [f"check raised {type(e).__name__}: {e}"]
        self.fail(op, name, problems)

    def timed_pass(self, traced: bool) -> tuple[float, list[float]]:
        """One pass over every query: (pass seconds, query seconds).
        Checks run after the pass clock stops."""
        from dbeam_spark.queries import QUERIES

        sc = self.spark.sparkContext
        latencies, results = [], []
        t_pass = time.perf_counter()
        for name in self.names:
            op = self.attempt()
            t0 = time.perf_counter()
            try:
                if traced:
                    group = f"perfbench-{op}"
                    sc.setJobGroup(group, name)
                    try:
                        with self.tracer.span("queries." + name, group=group) as span:
                            pdf = QUERIES[name](self.spark, self.dir).toPandas()
                    finally:
                        sc.setJobGroup("", "")
                    self.traced.append({"name": name, "span": span, "group": group})
                else:
                    pdf = QUERIES[name](self.spark, self.dir).toPandas()
                results.append((op, name, pdf))
            except Exception as e:  # noqa: BLE001 - counted, the run goes on
                self.fail(op, name, [f"query raised {type(e).__name__}: {e}"])
            latencies.append(time.perf_counter() - t0)
        pass_s = time.perf_counter() - t_pass
        for op, name, pdf in results:
            self._check(op, name, pdf)
        return pass_s, latencies

    def warm_up(self) -> None:
        """Untimed passes, ``nproc`` queries at a time. The JVM's
        compilers keep speeding the queries up for several passes;
        concurrent passes get through most of that in about the time
        one cold serial pass takes. The timed passes check every
        result."""
        from dbeam_spark.queries import QUERIES

        def run(name: str) -> None:
            try:
                QUERIES[name](self.spark, self.dir).toPandas()
            except Exception:  # noqa: BLE001 - the timed passes record it
                pass

        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            for _ in range(WARM_UP_PASSES):
                list(pool.map(run, self.names))

    def verify(self) -> None:
        """Nothing left to check: every timed pass checks its results."""

    def layer_metrics(self) -> dict:
        """Per query, medians over the traced passes; per pass, sums."""
        stages = tracing.StageReader(self.spark).group_totals([t["group"] for t in self.traced])
        per_query: dict[str, list[dict]] = {}
        for t in self.traced:
            totals = {**stages[t["group"]], "s": tracing.duration(t["span"])}
            per_query.setdefault(t["name"], []).append(totals)
        passes = len(next(iter(per_query.values()), []))
        out = {}
        for name, rows in per_query.items():
            for key in ("s", "tasks", "shuffle_bytes", "cpu_s"):
                out[f"queries.{name}.{key}"] = statistics.median(r[key] for r in rows)
        for key in ("stages", "spill_bytes", "executor_run_s"):
            out[f"queries.{key}"] = sum(r[key] for rows in per_query.values() for r in rows) / max(passes, 1)
        return out
