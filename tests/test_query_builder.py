"""Query-generation parity: the expected SQL strings below are the
ones the reference asserts in QueryBuilderArgsTest.java /
QueryBuilderTest.java / ParallelQueryBuilderTest.java."""

from __future__ import annotations

import pytest

from dbeam_spark.options import JdbcExportOptions
from dbeam_spark.query_builder import (
    base_query,
    generate_ranges,
    min_max_query,
    range_queries,
)


@pytest.fixture
def queries(plan_strings, tmp_path):
    """`_queries/` strings of an export of `some_table` (or of the
    user query `sql`), planned without a database."""

    def plan(sql=None, **kw) -> list[str]:
        if sql is not None:
            (tmp_path / "q.sql").write_text(sql)
            kw["sqlFile"] = str(tmp_path / "q.sql")
        else:
            kw["table"] = "some_table"
        opts = JdbcExportOptions(
            connectionUrl="jdbc:derby:memory:qb", output=str(tmp_path), **kw
        )
        return plan_strings(opts)["queries"]

    return plan


def test_table_query(queries):
    assert base_query("some_table") == "SELECT * FROM some_table WHERE 1=1"
    assert queries() == ["SELECT * FROM some_table WHERE 1=1"]


def test_user_query(queries):
    assert queries(sql="SELECT * FROM some_table") == [
        "SELECT * FROM (SELECT * FROM some_table) as user_sql_query WHERE 1=1"
    ]


def test_user_query_strips_trailing_semicolon():
    assert base_query(sql="SELECT * FROM some_table;") == (
        "SELECT * FROM (SELECT * FROM some_table) as user_sql_query WHERE 1=1"
    )


def test_invalid_table_name():
    with pytest.raises(ValueError):
        base_query("some-table;")
    with pytest.raises(ValueError):
        base_query(None)


def test_limit(queries):
    assert queries(limit=7) == ["SELECT * FROM some_table WHERE 1=1 LIMIT 7"]


def test_partition_daily(queries):
    assert queries(partitionColumn="col", partition="2027-07-31") == [
        "SELECT * FROM some_table WHERE 1=1 "
        "AND col >= '2027-07-31' AND col < '2027-08-01'"
    ]


def test_partition_daily_with_limit(queries):
    assert queries(limit=5, partitionColumn="col", partition="2027-07-31") == [
        "SELECT * FROM some_table WHERE 1=1 "
        "AND col >= '2027-07-31' AND col < '2027-08-01' LIMIT 5"
    ]


def test_partition_monthly(queries):
    assert queries(
        partitionColumn="col", partition="2027-07-31", partitionPeriod="P1M"
    ) == [
        "SELECT * FROM some_table WHERE 1=1 "
        "AND col >= '2027-07-31' AND col < '2027-08-31'"
    ]
    # leap day plus one year clamps to Feb 28, like LocalDate.plusYears
    assert queries(
        partitionColumn="col", partition="2024-02-29", partitionPeriod="P1Y"
    ) == [
        "SELECT * FROM some_table WHERE 1=1 "
        "AND col >= '2024-02-29' AND col < '2025-02-28'"
    ]


def test_partition_sub_daily(queries):
    assert queries(
        partitionColumn="col", partition="2027-07-31", partitionPeriod="PT1H"
    ) == [
        "SELECT * FROM some_table WHERE 1=1 "
        "AND col >= '2027-07-31T00:00:00Z' AND col < '2027-07-31T01:00:00Z'"
    ]


def test_user_query_with_partition_and_limit(queries):
    assert queries(
        sql="SELECT * FROM COFFEES WHERE SIZE > 10",
        limit=7,
        partitionColumn="col",
        partition="2027-07-31",
    ) == [
        "SELECT * FROM (SELECT * FROM COFFEES WHERE SIZE > 10) as user_sql_query WHERE 1=1 "
        "AND col >= '2027-07-31' AND col < '2027-08-01' LIMIT 7"
    ]


def test_generate_ranges_even():
    rs = generate_ranges(0, 100, 4)
    assert [(r.start_incl, r.end, r.end_excl) for r in rs] == [
        (0, 25, True),
        (25, 50, True),
        (50, 75, True),
        (75, 100, False),
    ]


def test_generate_ranges_min_equals_max():
    rs = generate_ranges(42, 42, 5)
    assert [(r.start_incl, r.end, r.end_excl) for r in rs] == [(42, 42, False)]


def test_generate_ranges_uneven():
    rs = generate_ranges(0, 10, 3)
    assert len(rs) <= 3
    # full coverage: start at 0, end at 10 inclusive, contiguous
    assert rs[0].start_incl == 0 and rs[-1].end == 10 and not rs[-1].end_excl
    for prev, nxt in zip(rs, rs[1:]):
        assert prev.end == nxt.start_incl


def test_queries_for_bounds():
    qs = range_queries(base_query("coffees"), "id", 1, 41, 5)
    assert qs[0] == (
        "SELECT * FROM coffees WHERE 1=1 AND id >= 1 AND id < 9"
    )
    assert qs[-1].endswith("AND id >= 33 AND id <= 41")
    assert len(qs) == 5


def test_min_max_query():
    assert min_max_query(base_query("coffees"), "id") == (
        "SELECT MIN(id) as min_s, MAX(id) as max_s FROM coffees WHERE 1=1"
    )
