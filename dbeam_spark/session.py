"""SparkSession helpers tuned for the engine.

Defaults are scale-oriented: AQE on (runtime coalescing + skew-join
splitting), Arrow on (fast pandas interchange for the few Pandas-UDF
operators), UTC session time so date semantics are deterministic.

Python worker daemon (``local[...]`` masters only). Every Python UDF
task (``mapInArrow``/``mapInPandas``: the Avro writer, the JDBC Arrow
handoff, the dedup kernels) pays a fixed start cost before its first
row, and on CPython 3.11 most of it was ``importlib.invalidate_caches()``
re-reading ``pyspark.zip`` and the spark-core jar once per zipimporter
on every task: 0.2-0.4 s. ``dbeam_spark.worker_daemon`` is pyspark's
daemon with ``zipimporter.invalidate_caches`` patched to re-read an
archive only when its inode, size or mtime changed; the forked workers
inherit it. The package root joins ``spark.executorEnv.PYTHONPATH`` so
the daemon (and any worker code that imports the package) starts from
any cwd. Off for non-local masters, whose executors may not have the
package installed: they keep ``pyspark.daemon``. A caller's own
``spark.python.daemon.module`` wins; its PYTHONPATH is kept in front.

Generated-class cache. Catalyst compiles every whole-stage-codegen
stage and many expressions to a Java class with Janino (about 9 ms per
class, and each new class starts out interpreted) and keeps the
classes in one LRU cache per JVM, keyed by the generated source. Spark
sizes it at 100 entries; one pass over the 18 headline queries
(``bench.HEADLINE``) needs 247 at sf0.001 on ``local[4]``, so a pass
run in a fixed order missed on nearly every lookup and recompiled
249-252 classes, every pass. ``bench.py``'s 32 repeated queries
(headline and extended) need 556. ``CODEGEN_CACHE_ENTRIES`` = 1000
holds that largest repeated set with room to spare (Guava splits the
limit over 4 segments, each evicting on its own): a warm headline pass
now compiles 0 classes (``codegen_compilations``). The whole registry
needs more: one pass over all 282 queries at sf0.001 on ``local[8]``
compiles 3835 distinct classes, 68 of which change on every run
(so a second pass with an unbounded cache still compiles 68); Spark's
100 entries compile 6683 in that one pass. Holding all 3835 costs
about 300 MB of JVM resident memory (2042 vs 1743 MB), about 100 MB of
heap after a full GC (308-326 vs 209 MB) and 30 MB of metaspace: too
much to pay in every session for a pass that only the test suite and
``tools/check_correctness.py`` run, once each.
``spark.sql.codegen.cache.maxEntries`` is a static conf, read once per
JVM when ``CodeGenerator`` first loads, so it takes effect only in a
session that starts the JVM; a caller's ``extra_conf`` still
overrides it. A vanilla ``SparkSession`` (the driver contract's, and
``tools/check_hostile_session.py``'s) keeps Spark's 100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Catalyst's generated-class cache size (see the module docstring).
CODEGEN_CACHE_ENTRIES = "1000"

# The directory holding the dbeam_spark package, for worker PYTHONPATH.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dbeam-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime row-level pruning: build a bloom filter from the
        # selective side of a join and push it into the other side's
        # scan — at 100 TB this skips whole row groups for star joins
        # whose dim filters are selective (no-op when not).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        extra_conf.setdefault(
            "spark.python.daemon.module", "dbeam_spark.worker_daemon"
        )
        key = "spark.executorEnv.PYTHONPATH"
        extra_conf[key] = os.pathsep.join(
            p for p in (extra_conf.get(key), _PACKAGE_ROOT) if p
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Classes Catalyst has compiled in this session's JVM so far: one
    per generated-class cache miss, counted by Spark's
    ``CodegenMetrics``. JVM-wide and only growing; read-only."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC so timestamp/window semantics are
    deterministic regardless of the host timezone.

    Called at the top of every registered query so results match the
    DuckDB oracle (which is timezone-naive) even when the caller built
    the session without our defaults.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _quiet_bounded_window_warn(spark)
    return spark


# The py4j gateway whose JVM already has the WindowExec level set.
_quieted_gateway = None


def _quiet_bounded_window_warn(spark: SparkSession) -> None:
    """Set the WindowExec logger to ERROR, once per JVM (keyed on the
    py4j gateway): the level is JVM-wide, and resolving the log4j
    classes over py4j costs ~14 ms, paid on every table load before.

    Every remaining unpartitioned window in the engine runs over a
    frame whose cardinality is bounded by calendar grain, enum
    domain, or an upstream dimension reduction (each call site
    documents which) — Catalyst folds constant partition keys out of
    the partition spec, so the `Window.partitionBy(lit(0))` idiom
    does NOT silence the per-run WARN on Spark 4.x. Data-scaled
    global windows are the real hazard and are guarded structurally
    by tests/test_plan_regressions.py, so the blanket WARN is pure
    noise here. Best-effort: never fails a query over logging."""
    global _quieted_gateway
    sc = spark.sparkContext
    if sc._gateway is _quieted_gateway:
        return
    try:
        _set_window_log_level(sc._jvm)
    except Exception:
        return
    _quieted_gateway = sc._gateway


def _set_window_log_level(jvm) -> None:
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
