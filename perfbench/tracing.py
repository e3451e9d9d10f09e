"""Spans, stage metrics and isolated layer calls for the traced run.

Spans are recorded from the benchmark's side only: the traced passes
swap the layer functions that ``jobs.jdbc_avro_job`` calls
(``read_jdbc``, ``find_input_bounds``, ``spark_schema_to_avro``,
``write_avro``) for wrappers that record a span around each call, and
restore them afterwards. Nothing inside the program is instrumented.

The isolated layer calls (``isolated_layers``) are extra calls on the
same inputs as the export — a ``noop`` fetch, an Arrow hand-off that
only counts rows, a single-thread encode in this process, a write
from a cached copy — not spans inside the real export.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: id, name, parent id, run id, start and end
    (``time.perf_counter`` seconds). Written out once, at the end."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self, span: dict, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"] and s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


@contextmanager
def traced_layers(tracer: Tracer):
    """Record a span around every layer call the export job makes."""
    from dbeam_spark.jobs import jdbc_avro_job
    from dbeam_spark.sources import jdbc

    targets = [
        (jdbc_avro_job, "read_jdbc", "sources.jdbc.read_jdbc"),
        (jdbc, "find_input_bounds", "sources.jdbc.find_input_bounds"),
        (jdbc_avro_job, "spark_schema_to_avro", "avro.schema.spark_schema_to_avro"),
        (jdbc_avro_job, "write_avro", "avro.writer.write_avro"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    for mod, attr, name in targets:
        setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def export_layers(tracer: Tracer, export_span: dict) -> dict[str, float]:
    """Layer times of one traced ``run_export`` span."""
    (plan,) = tracer.children(export_span, "sources.jdbc.read_jdbc")
    bounds = sum(map(duration, tracer.children(plan, "sources.jdbc.find_input_bounds")))
    (schema,) = tracer.children(export_span, "avro.schema.spark_schema_to_avro")
    (write,) = tracer.children(export_span, "avro.writer.write_avro")
    total = duration(export_span)
    return {
        "jobs.jdbc_avro_job.run_export_s": total,
        "sources.jdbc.find_input_bounds_s": bounds,
        "sources.jdbc.read_jdbc_s": duration(plan) - bounds,
        "avro.schema.spark_schema_to_avro_s": duration(schema),
        "avro.writer.write_call_s": duration(write),
        # metadata, checksums, minRows validation and _SUCCESS
        "jobs.jdbc_avro_job.residual_s": total - duration(plan) - duration(schema) - duration(write),
    }


class StageReader:
    """Stage metrics per job group from Spark's in-process status
    store, which is kept even with ``spark.ui.enabled=false``."""

    KEYS = ("stages", "tasks", "executor_run_s", "cpu_s", "shuffle_bytes", "spill_bytes")

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def group_totals(self, groups: list[str]) -> dict[str, dict[str, float]]:
        """For each job group, sums over the stages its jobs ran
        (skipped stages ran no tasks and add nothing)."""
        jvm = self._sc._jvm
        totals = {g: dict.fromkeys(self.KEYS, 0) for g in groups}
        stage_group = {}
        jobs = self._store.jobsList(jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            if group in totals:
                ids = job.stageIds()
                stage_group.update((ids.apply(j), group) for j in range(ids.size()))
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            group = stage_group.get(st.stageId())
            if group is None or st.numCompleteTasks() == 0:
                continue
            t = totals[group]
            t["stages"] += 1
            t["tasks"] += st.numCompleteTasks()
            t["executor_run_s"] += st.executorRunTime() / 1e3
            t["cpu_s"] += st.executorCpuTime() / 1e9
            t["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return totals


def isolated_layers(spark, tracer: Tracer, opts) -> dict[str, float]:
    """Time each export layer on its own, on the export's inputs."""
    from dbeam_spark.avro.schema import spark_schema_to_avro
    from dbeam_spark.avro.writer import OcfEncoder, write_avro
    from dbeam_spark.sources.jdbc import read_jdbc

    def count_rows(batches):  # nested: pickled by value for the workers
        import pyarrow as pa

        n = 0
        for rb in batches:
            n += rb.num_rows
        yield pa.RecordBatch.from_pydict({"n": [n]})

    def timed(name, fn):
        with tracer.span(name) as s:
            result = fn()
        return duration(s), result

    plan = read_jdbc(spark, opts)
    fetch_s, _ = timed(
        "isolated.fetch_noop",
        lambda: plan.df.write.format("noop").mode("overwrite").save(),
    )
    arrow_s, counted = timed(
        "isolated.arrow_count",
        lambda: sum(r.n for r in plan.df.mapInArrow(count_rows, "n long").collect()),
    )
    table = plan.df.toArrow()
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = table.to_batches(max_chunksize=batch_rows)
    schema = spark_schema_to_avro(plan.df.schema, schema_name=opts.table)

    def encode(codec):
        enc = OcfEncoder(schema, codec)
        return sum(len(b) for rb in batches for b in enc.encode_batch(rb))

    encode_s, raw_bytes = timed("isolated.encode_null", lambda: encode("null"))
    coded_s, coded_bytes = timed(
        f"isolated.encode_{opts.avroCodec}", lambda: encode(opts.avroCodec)
    )
    cached = plan.df.cache()
    cached.count()
    try:
        write_s, _ = timed(
            "isolated.write_avro_cached",
            lambda: write_avro(cached, opts.output, schema, codec=opts.avroCodec),
        )
    finally:
        cached.unpersist(blocking=True)
    cells = table.num_rows * table.num_columns
    return {
        "sources.jdbc.fetch_s": fetch_s,
        "sources.jdbc.arrow_handoff_s": arrow_s - fetch_s,
        "sources.jdbc.fetch_rows_per_s": counted / fetch_s,
        "avro.writer.encode_s": encode_s,
        "avro.writer.encode_ns_per_cell": encode_s * 1e9 / cells,
        "avro.writer.compress_s": coded_s - encode_s,
        "avro.writer.compress_ratio": raw_bytes / coded_bytes,
        "avro.writer.write_avro_s": write_s,
    }
