from __future__ import annotations

import tempfile

import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow_sweep: whole-registry plan sweep (minutes); deselect "
        "with -m 'not slow_sweep' for a quick iteration loop",
    )


@pytest.fixture(scope="session")
def spark():
    from dbeam_spark.session import get_spark

    s = get_spark("dbeam-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


def pytest_collection_modifyitems(items):
    # The oracle test builds each registered query's frame and records
    # its plan before collecting it; running it first lets the plan
    # tests and the registry sweep read those plans instead of building
    # every frame a second time. (Stable sort: all else keeps its order.)
    items.sort(key=lambda item: item.path.name != "test_queries_oracle.py")


class QueryFrames:
    """Builds registered queries' frames at sf0.001 and keeps each one's
    executed plan, read before anything collects the frame (under AQE a
    collected frame reports its final plan). Building a frame runs most
    of its query (collects, index builds, stream runs), so each query is
    built once per test session: by the oracle test, which collects it,
    or, when that test is deselected, by the first plan reader. No frame
    is kept, so none pins its checkpointed blocks or broadcasts."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._plans: dict[str, str] = {}

    def build(self, name: str):
        from dbeam_spark.queries import QUERIES

        frame = QUERIES[name](self._spark, SF_DIR)
        qe = frame._jdf.queryExecution()
        self._plans[name] = qe.executedPlan().toString()
        return frame

    def plan(self, name: str) -> str:
        if name not in self._plans:
            self.build(name)
        return self._plans[name]


@pytest.fixture(scope="session")
def query_frames(spark) -> QueryFrames:
    return QueryFrames(spark)


@pytest.fixture(scope="session")
def plan_of(query_frames):
    return query_frames.plan


@pytest.fixture(scope="session")
def derby_db(spark):
    """Embedded Derby database with a COFFEES fixture table (the
    reference tests use H2 the same way; see DbTestHelper.java)."""
    dbdir = tempfile.mkdtemp(prefix="derby_") + "/db"
    url = f"jdbc:derby:{dbdir};create=true"
    df = spark.range(0, 1000).selectExpr(
        "id AS C_ID",
        "CAST(id * 1.5 AS DOUBLE) AS AMOUNT",
        "CONCAT('name_', id) AS NAME",
        "timestamp_millis(1700000000000 + id * 1000) AS CREATED_AT",
        "id % 2 = 0 AS FLAG",
    )
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("user", "dbeam")
        .option("dbtable", "COFFEES")
        .mode("overwrite")
        .save()
    )
    return f"jdbc:derby:{dbdir}"


class _ReaderRecorder:
    """Stands in for the Spark JDBC reader and the DataFrame it loads."""

    def __init__(self, record: dict) -> None:
        self.record = record

    def option(self, key, value):
        self.record["options"][key] = value
        return self

    def load(self):
        return self

    def limit(self, n):
        self.record["limit"] = n
        return self


@pytest.fixture
def plan_strings(monkeypatch):
    """Plan an export with `read_jdbc` but no database: the JDBC reader
    and the bounds probe are replaced by recorders, the probe answers
    `bounds`. Returns the plan's strings: reader options (`dbtable`,
    range options), bounds probe, engine-side limit, `_queries/` list
    and base query."""
    from dbeam_spark.sources import jdbc

    def plan(opts, bounds=None) -> dict:
        record: dict = {"options": {}, "limit": None, "min_max": None}

        def probe(spark, opts, password, min_max_sql):
            record["min_max"] = min_max_sql
            return bounds

        monkeypatch.setattr(jdbc, "_base_reader", lambda *a: _ReaderRecorder(record))
        monkeypatch.setattr(jdbc, "find_input_bounds", probe)
        planned = jdbc.read_jdbc(None, opts)
        record.update(queries=planned.queries, base_query=planned.base_query)
        return record

    return plan


SF_DIR = "/root/testdata/sf0.001"
