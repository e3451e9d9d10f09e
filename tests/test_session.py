"""`session.get_spark` and `ensure_utc`: the worker daemon and its
PYTHONPATH for local masters, the generated-class cache size, and the
once-per-JVM log level."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from dbeam_spark import session

REPO = str(Path(__file__).resolve().parents[1])


class _RecordingBuilder:
    """Stands in for `SparkSession.builder`: records the conf."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, name):
        return self

    def master(self, master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch, **kwargs) -> dict[str, str]:
    class _Session:
        builder = _RecordingBuilder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    return session.get_spark(**kwargs)


def test_local_masters_run_the_worker_daemon(monkeypatch):
    conf = _conf(monkeypatch, master="local[2]")
    assert conf["spark.python.daemon.module"] == "dbeam_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO


def test_caller_worker_conf_is_kept(monkeypatch):
    conf = _conf(
        monkeypatch,
        master="local[2]",
        extra_conf={
            "spark.executorEnv.PYTHONPATH": "/opt/libs",
            "spark.python.daemon.module": "pyspark.daemon",
        },
    )
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/opt/libs", REPO]
    )


def test_cluster_masters_keep_the_pyspark_daemon(monkeypatch):
    conf = _conf(monkeypatch, master="spark://head:7077")
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


def test_codegen_cache_size_is_a_default_the_caller_can_override(monkeypatch):
    key = "spark.sql.codegen.cache.maxEntries"
    assert _conf(monkeypatch)[key] == session.CODEGEN_CACHE_ENTRIES
    assert _conf(monkeypatch, extra_conf={key: "100"})[key] == "100"


def test_repeated_headline_pass_compiles_no_classes(spark):
    """The generated-class cache holds one headline pass's classes, so
    a second pass compiles none. With Spark's default 100 entries the
    pass needs about 250 and recompiles nearly all of them each time."""
    import sys

    sys.path.insert(0, REPO)
    from bench import HEADLINE

    from dbeam_spark.queries import QUERIES
    from test_queries_oracle import SF_DIR

    def headline_pass():
        for name in HEADLINE:
            QUERIES[name](spark, SF_DIR).collect()

    headline_pass()
    compiled = session.codegen_compilations(spark)
    headline_pass()
    assert session.codegen_compilations(spark) - compiled == 0


def test_table_loads_set_the_log_level_once(spark, monkeypatch):
    """`ensure_utc` runs on every table load; the JVM-wide WindowExec
    level is set once per gateway, the session timezone every time."""
    from dbeam_spark.queries import tpch
    from test_queries_oracle import SF_DIR

    calls = []
    monkeypatch.setattr(session, "_quieted_gateway", None)
    monkeypatch.setattr(session, "_set_window_log_level", calls.append)
    tz = "spark.sql.session.timeZone"
    try:
        for table in ("nation", "region"):
            spark.conf.set(tz, "America/New_York")
            tpch._t(spark, SF_DIR, table)
            assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(tz, "UTC")
    assert len(calls) == 1


_FOREIGN_CWD_CHILD = r'''
import json, os, sys

sys.path.insert(0, sys.argv[1])  # the checkout, on the driver only
from dbeam_spark.queries import QUERIES

names = ["avro_roundtrip_audit", "stream_balance_floor", "dedup_minhash_lsh"]
if sys.argv[3] == "vanilla":
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    names += ["knn_bruteforce", "knn_ivf", "multimodal_bmp_decode"]
else:
    from dbeam_spark.session import get_spark

    spark = get_spark("foreign-cwd", master="local[2]", shuffle_partitions=2)
rows = {name: len(QUERIES[name](spark, sys.argv[2]).collect()) for name in names}
if sys.argv[3] == "get_spark":
    from dbeam_spark.jobs import jdbc_avro_job
    from dbeam_spark.options import JdbcExportOptions

    url = f"jdbc:derby:{os.getcwd()}/db"
    spark.range(0, 100).selectExpr("id AS ID", "CONCAT('v', id) AS V").write.format(
        "jdbc"
    ).option("url", url + ";create=true").option("user", "dbeam").option(
        "dbtable", "T"
    ).save()
    out = os.path.join(os.getcwd(), "export")
    jdbc_avro_job.run_export(spark, JdbcExportOptions(
        connectionUrl=url, table="T", output=out, username="dbeam",
        skipPartitionCheck=True, splitColumn="ID", queryParallelism=2,
    ))
    with open(os.path.join(out, "_CHECKSUMS.json")) as fh:
        rows["export"] = sum(r["rows"] for r in json.load(fh).values())
print(json.dumps(rows))
'''


def _run_from_foreign_cwd(tmp_path, session_kind: str) -> dict:
    # A driver started outside the checkout, with PYTHONPATH unset and
    # the package only on its own sys.path.
    from test_queries_oracle import SF_DIR

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)  # a fresh avro_roundtrip_audit export
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_CHILD, REPO, SF_DIR, session_kind],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert all(rows[name] > 0 for name in rows), rows
    return rows


def test_workers_import_the_package_from_a_foreign_cwd(tmp_path):
    """Under a `get_spark` session the Avro reader/writer, the
    streaming state kernels, the dedup kernels and a split Derby
    export all run from a foreign cwd."""
    assert _run_from_foreign_cwd(tmp_path, "get_spark")["export"] == 100


def test_vanilla_session_workers_run_from_a_foreign_cwd(tmp_path):
    """A plain session (the driver's kind: `pyspark.daemon`, no worker
    PYTHONPATH) runs the same kernels plus the kNN operators and a
    multimodal decode: the package pickles by value, so its workers
    never import it."""
    rows = _run_from_foreign_cwd(tmp_path, "vanilla")
    assert set(rows) >= {"knn_bruteforce", "knn_ivf", "multimodal_bmp_decode"}
