"""Partition instants, periods and the export's time window.

Re-expresses reference options/JdbcExportArgsFactory.java and the
partition half of args/QueryBuilderArgs.java; all time arithmetic of
the package lives here:
- `parse_instant` accepts the same lenient `yyyy[-MM][-dd['T'HH[:mm[:ss]]]]`
  shapes (plus an optional offset), defaulting missing parts;
- `parse_period` maps --partitionPeriod strings to calendar periods
  ('P1D', 'P2W', 'P1M', 'P1Y') or sub-daily timedeltas ('PT1H');
- `add_period` moves an instant by n periods, clamping to the month's
  last day like java.time's `LocalDate.plusMonths`/`plusYears`;
- `partition_bounds` is the [start, end) window of the partition
  WHERE condition;
- `validate_partition` fails exports aimed at partitions older than
  `min_partition` (default now - 2×period), unless skipped — the
  guard that keeps new data out of old partitions.
"""

from __future__ import annotations

import calendar
import re
from datetime import datetime, timedelta, timezone

from dbeam_spark.errors import NotReadyError

_INSTANT_RE = re.compile(
    r"^(\d{4})(?:-(\d{2}))?(?:-(\d{2}))?"
    r"(?:[T ](\d{2})(?::(\d{2}))?(?::(\d{2}))?)?"
    r"(Z|[+-]\d{2}:?\d{2})?$"
)


def parse_instant(value: str) -> datetime:
    """Parse dbeam's lenient partition timestamps to a UTC datetime."""
    m = _INSTANT_RE.match(value.strip())
    if not m:
        raise ValueError(f"Cannot parse partition instant: {value!r}")
    year, month, day, hour, minute, sec, off = m.groups()
    dt = datetime(
        int(year),
        int(month or 1),
        int(day or 1),
        int(hour or 0),
        int(minute or 0),
        int(sec or 0),
        tzinfo=timezone.utc,
    )
    if off and off != "Z":
        # Apply the UTC offset like java.time would: the wall time is in
        # the given zone, so subtract the offset to reach UTC.
        sign = 1 if off[0] == "+" else -1
        dt -= sign * timedelta(hours=int(off[1:3]), minutes=int(off[-2:]))
    return dt


def parse_period(value: str | None) -> str | timedelta:
    """--partitionPeriod: ISO-8601; 'PT…' means sub-daily timedelta,
    otherwise a calendar period string (P1D default)."""
    if value is None:
        return "P1D"
    v = value.strip().upper()
    if "T" in v:
        m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)S)?", v)
        # a bare 'PT' names no duration (java Duration.parse rejects it)
        if not m or not any(m.groups()):
            raise ValueError(f"Unsupported partition period: {value}")
        h, mi, s = (int(x or 0) for x in m.groups())
        return timedelta(hours=h, minutes=mi, seconds=s)
    if not re.fullmatch(r"P\d+[DWMY]", v):
        raise ValueError(f"Unsupported partition period: {value}")
    return v


def partition_window(opts) -> tuple[datetime | None, str | timedelta]:
    """The export's --partition and --partitionPeriod, parsed."""
    partition = parse_instant(opts.partition) if opts.partition else None
    return partition, parse_period(opts.partitionPeriod)


def add_period(dt: datetime, period: str | timedelta, n: int = 1) -> datetime:
    """dt moved by n (signed) periods. Months and years keep the day
    of month, clamped to the target month's last day (2024-02-29 plus
    P1Y is 2025-02-28), as java.time does."""
    if isinstance(period, timedelta):
        return dt + period * n
    m = re.fullmatch(r"P(\d+)([DWMY])", period.upper())
    if not m:
        raise ValueError(f"Unsupported period: {period}")
    k, unit = int(m.group(1)) * n, m.group(2)
    if unit in "DW":
        return dt + timedelta(days=k * (7 if unit == "W" else 1))
    month0 = dt.year * 12 + dt.month - 1 + k * (12 if unit == "Y" else 1)
    year, month = divmod(month0, 12)
    day = min(dt.day, calendar.monthrange(year, month + 1)[1])
    return dt.replace(year=year, month=month + 1, day=day)


def partition_bounds(
    partition: datetime, period: str | timedelta
) -> tuple[str, str]:
    """[start, end) strings for the partition WHERE condition.

    Calendar periods ('P1D', 'P1M', …) use date strings and calendar
    arithmetic; sub-daily timedeltas use full ISO instants — matching
    args/QueryBuilderArgs.java configurePartitionCondition.
    """
    end = add_period(partition, period)
    if isinstance(period, str):
        return partition.date().isoformat(), end.date().isoformat()
    return _instant_str(partition), _instant_str(end)


def _instant_str(dt: datetime) -> str:
    """Java Instant.toString() shape: UTC wallclock + 'Z'."""
    s = dt.isoformat()
    if s.endswith("+00:00"):
        s = s[: -len("+00:00")]
    return s if s.endswith("Z") else s + "Z"


def min_partition_datetime(
    now: datetime,
    period: str | timedelta,
    min_partition_period: datetime | None = None,
) -> datetime:
    """Default freshness floor: now − 2×partitionPeriod (ref
    JdbcExportArgsFactory.createQueryArgs)."""
    if min_partition_period is not None:
        return min_partition_period
    return add_period(now, period, -2)


def validate_partition(
    partition: datetime | None,
    period: str | timedelta = "P1D",
    *,
    partition_column: str | None = None,
    skip_partition_check: bool = False,
    min_partition_period: datetime | None = None,
    now: datetime | None = None,
) -> None:
    """Raise NotReadyError when exporting a too-old partition without
    a partition column (snapshot dumps into old partitions)."""
    if skip_partition_check or partition_column is not None:
        return
    if partition is None:
        return
    now = now or datetime.now(timezone.utc)
    floor = min_partition_datetime(now, period, min_partition_period)
    if partition < floor:
        raise NotReadyError(
            f"Partition date {partition.isoformat()} is too old, "
            f"minimum is {floor.isoformat()}"
        )
