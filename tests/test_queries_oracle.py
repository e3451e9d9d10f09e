"""Every registered query vs its DuckDB oracle at sf0.001 — the same
comparison the driver's correctness gate performs at sf0.01."""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb
import pytest

from dbeam_spark.queries import ORACLES, QUERIES
from dbeam_spark.sources.files import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    """Runs an oracle's SQL in DuckDB once per module, however many
    queries share it (stream twins share their batch query's oracle),
    and returns its column names and rows."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    memo: dict[str, tuple[list[str], list[tuple]]] = {}

    def run(sql: str) -> tuple[list[str], list[tuple]]:
        if sql not in memo:
            res = con.execute(sql)
            memo[sql] = ([d[0] for d in res.description], res.fetchall())
        return memo[sql]

    return run


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _vhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(query_frames, duck, name):
    sdf = query_frames.build(name)
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only gate
        return
    ocols, orows = duck(ORACLES[name])
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert _vhash(sdf.columns, srows) == _vhash(ocols, orows)
