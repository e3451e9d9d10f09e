"""The export's SQL strings, built as plain functions over SQL text.

Re-expresses reference args/QueryBuilder.java and
args/ParallelQueryBuilder.java. Every string is byte-identical to what
the reference's tests assert (see tests/test_query_builder.py), so a
dbeam user can diff `_queries/query_*.sql` between the two systems:

- `base_query` is dbeam's `SELECT * FROM t WHERE 1=1` (or the user's
  query wrapped as `user_sql_query`); conditions are appended to it
  as ` AND …` text;
- `min_max_query` is the bounds probe of a split export;
- `generate_ranges` / `range_queries` are dbeam's per-range queries.

In the Spark engine the range strings are written to the output's
`_queries/` metadata, like dbeam, but a split export does not run
them. sources/jdbc.py hands the same MIN/MAX bounds to the Spark JDBC
source's partitionColumn/lowerBound/upperBound/numPartitions, and
Spark builds its own partition predicates from them. Those cover every
row: NULL split keys land in the first partition (`K < x OR K IS
NULL`) and the last range is open-ended (`K >= y`), where dbeam's
range queries skip NULL keys and end at `K <= max`.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

_TABLE_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_.]*$")


def base_query(table: str | None = None, sql: str | None = None) -> str:
    """dbeam's base query over a table name or a user query (ref
    args/QueryBuilderArgs.java create / createFromQuery)."""
    if sql is not None:
        # strip a trailing statement terminator (ref removeTrailingSymbols)
        sql = re.sub(r";(\s*)$", r"\1", sql)
        return f"SELECT * FROM ({sql}) as user_sql_query WHERE 1=1"
    if table is None:
        raise ValueError("TableName cannot be null")
    if not _TABLE_NAME_RE.match(table):
        raise ValueError("'table' must follow [a-zA-Z_][a-zA-Z0-9_.]*")
    return f"SELECT * FROM {table} WHERE 1=1"


def min_max_query(query: str, column: str) -> str:
    """Query returning min_s/max_s bounds for the split column
    (ref generateQueryToGetLimitsOfSplitColumn)."""
    select = f"SELECT MIN({column}) as min_s, MAX({column}) as max_s"
    return query.replace("SELECT *", select, 1)


@dataclass(frozen=True)
class QueryRange:
    """[start_incl, end] with end-exclusivity flag (ref QueryRange)."""

    start_incl: int
    end: int
    end_excl: bool


def generate_ranges(min_v: int, max_v: int, parallelism: int) -> list[QueryRange]:
    """Split [min, max] into at most `parallelism` contiguous ranges
    (ref ParallelQueryBuilder.generateRanges — same bucket math,
    including the min==max single-range case)."""
    bucket = math.ceil((max_v - min_v) / parallelism) if parallelism else 0
    bucket = 1 if bucket == 0 else bucket
    ranges: list[QueryRange] = []
    i = min_v
    while i + bucket < max_v:
        ranges.append(QueryRange(i, i + bucket, True))
        i += bucket
    if i + bucket >= max_v:
        ranges.append(QueryRange(i, max_v, False))
    if len(ranges) > parallelism:
        raise ValueError(
            "Unable to generate expected number of ranges for given min max."
        )
    return ranges


def range_queries(
    query: str, column: str, low: int, high: int, parallelism: int
) -> list[str]:
    """dbeam's per-range queries over [low, high]
    (ref ParallelQueryBuilder.queriesForBounds)."""
    return [
        f"{query} AND {column} >= {r.start_incl}"
        f" AND {column} {'<' if r.end_excl else '<='} {r.end}"
        for r in generate_ranges(low, high, parallelism)
    ]
