"""SQL query generation with dbeam's exact contract.

Re-expresses reference args/QueryBuilder.java,
args/QueryBuilderArgs.java and args/ParallelQueryBuilder.java —
the generated SQL strings are byte-identical to what the reference's
tests assert (see tests/test_query_builder.py), so a dbeam user can
diff `_queries/query_*.sql` between the two systems.

In the Spark engine these strings are written to the output's
`_queries/` metadata, like dbeam, but a split export does not run the
ranges `generate_ranges` builds. sources/jdbc.py hands the same
MIN/MAX bounds to the Spark JDBC source's
partitionColumn/lowerBound/upperBound/numPartitions, and Spark builds
its own partition predicates from them. Those cover every row: NULL
split keys land in the first partition (`K < x OR K IS NULL`) and the
last range is open-ended (`K >= y`), where dbeam's range queries skip
NULL keys and end at `K <= max`.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field, replace
from datetime import date, datetime, timedelta

_DEFAULT_SELECT = "SELECT *"
_DEFAULT_WHERE = "WHERE 1=1"
_TABLE_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_.]*$")


@dataclass(frozen=True)
class QueryBuilder:
    """Immutable wrapper for a raw SQL query (ref QueryBuilder.java:31)."""

    base_sql: str
    where_conditions: tuple[str, ...] = ()
    limit_str: str | None = None

    @staticmethod
    def from_table(table_name: str) -> "QueryBuilder":
        return QueryBuilder(
            base_sql=f"{_DEFAULT_SELECT} FROM {table_name} {_DEFAULT_WHERE}"
        )

    @staticmethod
    def from_sql_query(sql: str) -> "QueryBuilder":
        # strip a trailing statement terminator (ref removeTrailingSymbols)
        sql = re.sub(r";(\s*)$", r"\1", sql)
        return QueryBuilder(
            base_sql=(
                f"{_DEFAULT_SELECT} FROM ({sql}) as user_sql_query {_DEFAULT_WHERE}"
            )
        )

    def with_partition_condition(
        self, partition_column: str, start_incl: str, end_excl: str
    ) -> "QueryBuilder":
        cond = (
            f" AND {partition_column} >= '{start_incl}'"
            f" AND {partition_column} < '{end_excl}'"
        )
        return replace(self, where_conditions=self.where_conditions + (cond,))

    def with_parallelization_condition(
        self, split_column: str, start_incl: int, end: int, end_excl: bool
    ) -> "QueryBuilder":
        op = "<" if end_excl else "<="
        cond = (
            f" AND {split_column} >= {start_incl}"
            f" AND {split_column} {op} {end}"
        )
        return replace(self, where_conditions=self.where_conditions + (cond,))

    def with_limit(self, limit: int) -> "QueryBuilder":
        return replace(self, limit_str=f" LIMIT {limit}")

    def min_max_query(self, split_column: str) -> str:
        """Query returning min_s/max_s bounds for the split column
        (ref generateQueryToGetLimitsOfSplitColumn)."""
        select = (
            f"SELECT MIN({split_column}) as min_s, MAX({split_column}) as max_s"
        )
        base = self.base_sql.replace(_DEFAULT_SELECT, select, 1)
        return "".join([base, *self.where_conditions]) + (self.limit_str or "")

    def build(self) -> str:
        return "".join([self.base_sql, *self.where_conditions]) + (
            self.limit_str or ""
        )

    def __str__(self) -> str:  # pragma: no cover
        return self.build()


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


def queries_for_bounds(
    min_v: int,
    max_v: int,
    parallelism: int,
    split_column: str,
    qb: QueryBuilder,
) -> list[str]:
    return [
        qb.with_parallelization_condition(
            split_column, r.start_incl, r.end, r.end_excl
        ).build()
        for r in generate_ranges(min_v, max_v, parallelism)
    ]


@dataclass(frozen=True)
class QueryBuilderArgs:
    """How to build the export queries (ref QueryBuilderArgs.java)."""

    base: QueryBuilder
    limit: int | None = None
    partition_column: str | None = None
    partition: datetime | None = None
    partition_period: timedelta | str = "P1D"  # 'P1D'/'P1M' or timedelta
    split_column: str | None = None
    query_parallelism: int | None = None

    @staticmethod
    def create(table_name: str) -> "QueryBuilderArgs":
        if table_name is None:
            raise ValueError("TableName cannot be null")
        if not _TABLE_NAME_RE.match(table_name):
            raise ValueError("'table' must follow [a-zA-Z_][a-zA-Z0-9_.]*")
        return QueryBuilderArgs(base=QueryBuilder.from_table(table_name))

    @staticmethod
    def create_from_query(sql: str) -> "QueryBuilderArgs":
        return QueryBuilderArgs(base=QueryBuilder.from_sql_query(sql))

    def sql_query_with_limit_one(self) -> str:
        return self.base.with_limit(1).build()

    def _partitioned(self) -> QueryBuilder:
        qb = self.base
        if self.partition_column and self.partition is not None:
            start, end = partition_bounds(self.partition, self.partition_period)
            qb = qb.with_partition_condition(self.partition_column, start, end)
        return qb

    def build_queries(self, find_bounds=None) -> list[str]:
        """Build the export queries. `find_bounds(min_max_sql) ->
        (min, max)` supplies split bounds when parallelism is set
        (the reference queries the JDBC connection; we accept any
        callable so Spark/JDBC/tests can plug in)."""
        qb = self._partitioned()
        if self.limit is not None:
            per_query = (
                self.limit // self.query_parallelism
                if self.query_parallelism
                else self.limit
            )
            qb = qb.with_limit(per_query)
        if self.query_parallelism and self.split_column:
            if find_bounds is None:
                raise ValueError("parallel export requires a bounds provider")
            min_v, max_v = find_bounds(qb.min_max_query(self.split_column))
            return queries_for_bounds(
                min_v, max_v, self.query_parallelism, self.split_column, qb
            )
        return [qb.build()]


def partition_bounds(
    partition: datetime, period: timedelta | str
) -> tuple[str, str]:
    """[start, end) strings for the partition WHERE condition.

    Calendar periods ('P1D', 'P1M', …) use date strings and calendar
    arithmetic; sub-daily timedeltas use full ISO instants — matching
    QueryBuilderArgs.configurePartitionCondition.
    """
    if isinstance(period, str):
        p_date = partition.date()
        next_date = _add_period(p_date, period)
        return p_date.isoformat(), next_date.isoformat()
    next_partition = partition + period
    return _instant_str(partition), _instant_str(next_partition)


def _instant_str(dt: datetime) -> str:
    """Java Instant.toString() shape: UTC wallclock + 'Z'."""
    s = dt.isoformat()
    if s.endswith("+00:00"):
        s = s[: -len("+00:00")]
    return s if s.endswith("Z") else s + "Z"


def _add_period(d: date, period: str) -> date:
    m = re.fullmatch(r"P(\d+)([DWMY])", period.upper())
    if not m:
        raise ValueError(f"Unsupported period: {period}")
    n, unit = int(m.group(1)), m.group(2)
    if unit == "D":
        return d + timedelta(days=n)
    if unit == "W":
        return d + timedelta(weeks=n)
    if unit == "M":
        month0 = d.month - 1 + n
        year = d.year + month0 // 12
        month = month0 % 12 + 1
        day = min(
            d.day,
            [31, 29 if _leap(year) else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31][
                month - 1
            ],
        )
        return date(year, month, day)
    return date(d.year + n, d.month, d.day)


def _leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)
