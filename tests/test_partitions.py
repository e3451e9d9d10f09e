from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from dbeam_spark.errors import NotReadyError
from dbeam_spark.partitions import (
    min_partition_datetime,
    parse_instant,
    parse_period,
    validate_partition,
)


def utc(*a):
    return datetime(*a, tzinfo=timezone.utc)


# the lenient shapes JdbcExportArgsFactoryTest exercises
@pytest.mark.parametrize(
    "value,expected",
    [
        ("2027-07-31", utc(2027, 7, 31)),
        ("2027-07-31T13:37:59Z", utc(2027, 7, 31, 13, 37, 59)),
        ("2027-05", utc(2027, 5, 1)),
        ("2027", utc(2027, 1, 1)),
        ("2027-05-02T23:00", utc(2027, 5, 2, 23, 0)),
        # offsets apply like java Instant parsing: wall time is in the
        # given zone, so +02:00 lands 2h earlier in UTC
        ("2025-01-01T00:00+02:00", utc(2024, 12, 31, 22, 0)),
        ("2025-01-01T00:00-05:30", utc(2025, 1, 1, 5, 30)),
        ("2025-01-01T12:00+0000", utc(2025, 1, 1, 12, 0)),
    ],
)
def test_parse_instant(value, expected):
    assert parse_instant(value) == expected


def test_parse_instant_invalid():
    with pytest.raises(ValueError):
        parse_instant("not-a-date")


def test_parse_period():
    assert parse_period(None) == "P1D"
    assert parse_period("P1M") == "P1M"
    assert parse_period("PT1H") == timedelta(hours=1)
    with pytest.raises(ValueError):
        parse_period("1 day")
    # a bare 'PT' is no duration (java Duration.parse rejects it) and
    # would make a zero-width partition window
    with pytest.raises(ValueError):
        parse_period("PT")


def test_min_partition_default_two_periods_back():
    now = utc(2025, 3, 10, 12)
    assert min_partition_datetime(now, "P1D") == utc(2025, 3, 8, 12)
    assert min_partition_datetime(now, "P1M") == utc(2025, 1, 10, 12)
    assert min_partition_datetime(now, timedelta(hours=1)) == utc(2025, 3, 10, 10)
    # calendar periods clamp to the month's last day
    assert min_partition_datetime(utc(2024, 2, 29, 12), "P1Y") == utc(2022, 2, 28, 12)
    assert min_partition_datetime(utc(2025, 4, 30), "P1M") == utc(2025, 2, 28)


def test_validate_partition_too_old():
    with pytest.raises(NotReadyError):
        validate_partition(utc(2025, 1, 1), "P1D", now=utc(2025, 3, 1))


def test_validate_partition_fresh_ok():
    validate_partition(utc(2025, 2, 28), "P1D", now=utc(2025, 3, 1))


def test_validate_partition_skipped():
    validate_partition(
        utc(2020, 1, 1), "P1D", skip_partition_check=True, now=utc(2025, 3, 1)
    )
    # a partition column also disables the check (filtered exports
    # can't pollute old partitions)
    validate_partition(
        utc(2020, 1, 1), "P1D", partition_column="ts", now=utc(2025, 3, 1)
    )


def test_validate_partition_explicit_floor():
    validate_partition(
        utc(2024, 1, 2),
        "P1D",
        min_partition_period=utc(2024, 1, 1),
        now=utc(2025, 3, 1),
    )
    with pytest.raises(NotReadyError):
        validate_partition(
            utc(2023, 12, 31),
            "P1D",
            min_partition_period=utc(2024, 1, 1),
            now=utc(2025, 3, 1),
        )
