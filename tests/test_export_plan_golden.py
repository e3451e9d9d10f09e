"""Golden strings of the export plan: for a matrix of sources,
partition windows, limits and split bounds, the pushed-down `dbtable`
text, the bounds probe, the Spark JDBC range options and the
`_queries/` list that `read_jdbc` produces.

`export_plans.json` holds the recorded strings; every one must stay
byte-identical, since users diff `_queries/` between exports. No
database is needed (see the `plan_strings` fixture).
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import pytest

from dbeam_spark.options import JdbcExportOptions

GOLDEN = Path(__file__).with_name("export_plans.json")

SOURCES = {
    "table": {"table": "COFFEES"},
    "sqlfile": {"sql": "SELECT * FROM COFFEES WHERE SIZE > 10;"},
}
PARTITIONS = {
    "none": {},
    "P1D": {"partition": "2027-07-31", "partitionPeriod": "P1D"},
    # month-end clamp: Jan 31 + 1 month is Feb 28
    "P1M": {"partition": "2027-01-31", "partitionPeriod": "P1M"},
    "PT1H": {"partition": "2027-07-31T13:00:00Z", "partitionPeriod": "PT1H"},
}
LIMITS = {"nolimit": None, "limit10": 10}
SPLITS = {"nosplit": None, "split1_41": (1, 41), "split7_7": (7, 7)}

CASES = [
    "-".join(c) for c in itertools.product(SOURCES, PARTITIONS, LIMITS, SPLITS)
]


def case_options(case: str, tmp_path: Path) -> JdbcExportOptions:
    source, partition, limit, split = case.split("-")
    kw = dict(
        connectionUrl="jdbc:derby:memory:golden",
        output=str(tmp_path / "out"),
        limit=LIMITS[limit],
        **PARTITIONS[partition],
    )
    if partition != "none":
        kw["partitionColumn"] = "CREATED_AT"
    if "sql" in SOURCES[source]:
        sql_file = tmp_path / "query.sql"
        sql_file.write_text(SOURCES[source]["sql"])
        kw["sqlFile"] = str(sql_file)
    else:
        kw.update(SOURCES[source])
    if SPLITS[split] is not None:
        kw.update(splitColumn="C_ID", queryParallelism=3)
    return JdbcExportOptions(**kw)


@pytest.mark.parametrize("case", CASES)
def test_export_plan_strings_match_golden(case, tmp_path, plan_strings):
    golden = json.loads(GOLDEN.read_text())
    got = plan_strings(case_options(case, tmp_path), SPLITS[case.split("-")[3]])
    assert got == golden[case]


def test_golden_covers_the_matrix():
    assert sorted(json.loads(GOLDEN.read_text())) == sorted(CASES)
