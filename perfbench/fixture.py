"""Seeded Derby fixtures for the export benchmark.

Tables are generated with numpy from the seed, written to a CSV and
bulk-loaded into embedded Derby with ``SYSCS_UTIL.SYSCS_IMPORT_TABLE``
after a DDL ``CREATE TABLE`` over ``java.sql``. Spark's own JDBC writer
is not used: it binds NULL strings as CLOB, so a DDL-created VARCHAR
column fails with ERROR 22005 and ``overwrite`` turns every string
into a CLOB.

The database directory is keyed by seed and size and reused across
runs; a ``meta.json`` written last marks it complete. Embedded Derby
lets one JVM boot a database at a time, so a run builds and exports
from the same JVM.

Each table also gets an order-insensitive content digest of the rows
as an export must present them in Avro (see ``row_digest``), which
the output checks compare against.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

# Hyphen-free, used for both the fixture and the export: Derby maps
# the user to the default schema, and dbeam's default user name
# ("dbeam-extractor") is not a valid unquoted schema name.
USER = "BENCH"
NULL_SHARE = 0.05
KEPT = 4  # cached fixtures kept in the work directory
_DAY_MS = 86_400_000
_EPOCH_1992 = 8036  # 1992-01-01 as days since 1970-01-01

_WORDS = (
    "furiously regular deposits sleep quickly express accounts haggle "
    "carefully final packages nag slyly ironic requests wake blithely "
    "pending theodolites boost fluffily special pinto beans cajole even "
    "instructions use bold foxes integrate silent platelets detect"
).split()


@dataclass(frozen=True)
class TableSpec:
    name: str
    rows: int
    key: str  # BIGINT NOT NULL column used for split / bounds
    columns: tuple[tuple[str, str], ...]  # (NAME, Derby type)
    digest: int


def row_digest(lines) -> int:
    """Order-insensitive digest of canonical row lines: the sum, mod
    2**64, of the first 8 bytes (little endian) of each line's MD5.
    ``AvroDigest.java`` computes the same sum on the JVM side."""
    total = 0
    for line in lines:
        total += int.from_bytes(
            hashlib.md5(line.encode("utf-8")).digest()[:8], "little"
        )
    return total & 0xFFFFFFFFFFFFFFFF


def canonical_line(values) -> str:
    """One decoded Avro row → its canonical digest line."""
    return "\t".join("\\N" if v is None else str(v) for v in values)


# ------------------------------------------------------------ generation


def _with_nulls(rng, arr: pa.Array, nullable: bool) -> pa.Array:
    if not nullable:
        return arr
    mask = pa.array(rng.random(len(arr)) < NULL_SHARE)
    return pc.if_else(mask, pa.nulls(len(arr), arr.type), arr)


def _money(cents: np.ndarray) -> pa.Array:
    """int cents → 'units.cc' strings (the Avro rendering of a
    DECIMAL(15,2), and a valid Derby import literal)."""
    units = pc.cast(pa.array(cents // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
    return pc.binary_join_element_wise(units, frac, ".")


def _text(rng, n: int, pool: int, max_len: int) -> pa.Array:
    words = np.array(_WORDS)
    k = rng.integers(2, 7, size=pool)
    texts = [
        " ".join(words[rng.integers(0, len(words), size=int(j))])[:max_len]
        for j in k
    ]
    return pa.array(np.array(texts, dtype=object)[rng.integers(0, pool, n)])


def _column(rng, kind: str, n: int) -> tuple[str, pa.Array]:
    """A generated column of one kind → (Derby type, values as the
    CSV import expects them)."""
    if kind == "BIGINT":
        return "BIGINT", pa.array(rng.integers(1, 2_000_000, n))
    if kind == "INT":
        return "INT", pa.array(rng.integers(-50_000, 50_000, n).astype(np.int32))
    if kind == "DECIMAL":
        return "DECIMAL(15,2)", _money(rng.integers(0, 10_000_000, n))
    if kind == "DATE":
        days = _EPOCH_1992 + rng.integers(0, 2500, n)
        return "DATE", pa.array(days.astype(np.int32), pa.date32())
    if kind == "CHAR":
        return "CHAR(1)", pa.array(np.array(list("AFNOR"))[rng.integers(0, 5, n)])
    if kind == "VARCHAR":
        return "VARCHAR(44)", _text(rng, n, 2000, 44)
    raise ValueError(kind)


def lineitem_columns(rng, n: int) -> list[tuple[str, str, pa.Array]]:
    """TPC-H lineitem's DDL: BIGINT keys, INT line number, 4 DECIMAL
    money columns, CHAR(1) flags, 3 DATEs and 3 VARCHARs; every column
    but the order key and line number is ~5% NULL."""
    lines_per_order = rng.integers(1, 8, size=n // 2 + 8)
    order_idx = np.repeat(np.arange(len(lines_per_order)), lines_per_order)[:n]
    # TPC-H's sparse order keys: 8 used keys in every block of 32
    orderkey = (order_idx // 8) * 32 + order_idx % 8 + 1
    starts = np.r_[0, np.flatnonzero(np.diff(order_idx)) + 1]
    linenumber = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1
    qty = rng.integers(1, 51, n)
    ship = _EPOCH_1992 + rng.integers(1, 2526, n)
    flags = np.array(["R", "A", "N"])
    status = np.array(["O", "F"])
    instruct = np.array(
        ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
    )
    modes = np.array(["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"])
    cols = [
        ("L_ORDERKEY", "BIGINT NOT NULL", pa.array(orderkey), False),
        ("L_PARTKEY", "BIGINT", pa.array(rng.integers(1, 200_001, n)), True),
        ("L_SUPPKEY", "BIGINT", pa.array(rng.integers(1, 10_001, n)), True),
        ("L_LINENUMBER", "INT NOT NULL", pa.array(linenumber.astype(np.int32)), False),
        ("L_QUANTITY", "DECIMAL(15,2)", _money(qty * 100), True),
        ("L_EXTENDEDPRICE", "DECIMAL(15,2)", _money(qty * rng.integers(90_000, 210_000, n)), True),
        ("L_DISCOUNT", "DECIMAL(15,2)", _money(rng.integers(0, 11, n)), True),
        ("L_TAX", "DECIMAL(15,2)", _money(rng.integers(0, 9, n)), True),
        ("L_RETURNFLAG", "CHAR(1)", pa.array(flags[rng.integers(0, 3, n)]), True),
        ("L_LINESTATUS", "CHAR(1)", pa.array(status[rng.integers(0, 2, n)]), True),
        ("L_SHIPDATE", "DATE", pa.array(ship.astype(np.int32), pa.date32()), True),
        ("L_COMMITDATE", "DATE", pa.array((ship + rng.integers(-60, 61, n)).astype(np.int32), pa.date32()), True),
        ("L_RECEIPTDATE", "DATE", pa.array((ship + rng.integers(1, 31, n)).astype(np.int32), pa.date32()), True),
        ("L_SHIPINSTRUCT", "VARCHAR(25)", pa.array(instruct[rng.integers(0, 4, n)]), True),
        ("L_SHIPMODE", "VARCHAR(10)", pa.array(modes[rng.integers(0, 7, n)]), True),
        ("L_COMMENT", "VARCHAR(44)", _text(rng, n, 20_000, 44), True),
    ]
    return [
        (name, ddl, _with_nulls(rng, arr, nullable))
        for name, ddl, arr, nullable in cols
    ]


_SMALL_KINDS = ("INT", "DECIMAL", "DATE", "CHAR", "VARCHAR", "BIGINT")


def small_columns(rng, n: int, index: int) -> list[tuple[str, str, pa.Array]]:
    """A BIGINT NOT NULL key plus 3–5 columns of mixed kinds. The
    kinds depend on the table's index only, so every seed exports the
    same mix of column types."""
    width = 3 + index % 3
    picked = [_SMALL_KINDS[(index + j) % len(_SMALL_KINDS)] for j in range(width)]
    cols = [("ID", "BIGINT NOT NULL", pa.array(np.arange(1, n + 1) * 3))]
    for i, kind in enumerate(picked):
        ddl, arr = _column(rng, kind, n)
        cols.append((f"C{i}_{kind}", ddl, _with_nulls(rng, arr, True)))
    return cols


def _avro_view(arr: pa.Array) -> pa.Array:
    """Column values as the export renders them in Avro, as strings:
    dates become epoch millis, decimals their 2-digit-scale text."""
    if pa.types.is_date32(arr.type):
        arr = pc.multiply(pc.cast(arr.cast(pa.int32()), pa.int64()), _DAY_MS)
    return pc.fill_null(pc.cast(arr, pa.string()), "\\N")


def table_digest(cols) -> int:
    joined = pc.binary_join_element_wise(
        *[_avro_view(arr) for _, _, arr in cols], "\t"
    )
    return row_digest(joined.to_pylist())


# ---------------------------------------------------------------- Derby


def _connect(spark, url: str):
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    props.setProperty("user", USER)
    return jvm.java.sql.DriverManager.getConnection(url, props)


def _load_table(conn, name: str, cols, csv_path: str) -> TableSpec:
    ddl = ", ".join(f"{c} {t}" for c, t, _ in cols)
    stmt = conn.createStatement()
    try:
        stmt.execute(f"CREATE TABLE {name} ({ddl})")
    finally:
        stmt.close()
    table = pa.table({c: arr for c, _, arr in cols})
    pacsv.write_csv(
        table, csv_path, pacsv.WriteOptions(include_header=False)
    )
    call = conn.prepareCall(
        "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(?, ?, ?, ?, ?, ?, ?)"
    )
    try:
        for i, v in enumerate(
            [USER, name, csv_path, ",", '"', "UTF-8"], start=1
        ):
            call.setString(i, v)
        call.setShort(7, 0)
        call.execute()
    finally:
        call.close()
    os.remove(csv_path)
    return TableSpec(
        name=name,
        rows=len(table),
        key=cols[0][0],
        columns=tuple((c, t) for c, t, _ in cols),
        digest=table_digest(cols),
    )


def evict(work: str, keep: str) -> None:
    """Keep the ``KEPT`` most recently used fixtures and query data
    sets in the work directory."""
    dirs = [
        os.path.join(work, d) for d in os.listdir(work)
        if d.startswith(("derby-", "tables-")) and d != "derby-home"
    ]
    dirs = sorted((d for d in dirs if d != keep), key=os.path.getmtime)
    for d in dirs[: max(0, len(dirs) - (KEPT - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def fixture_dir(root: str, shape: str, seed: int, rows: int, tables: int) -> str:
    """Cache directory of one fixture: keyed by its parameters and by
    this file's source, so a generator change builds afresh."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    return os.path.join(root, f"derby-{shape}-s{seed}-r{rows}-t{tables}-{version}")


def build(spark, path: str, shape: str, seed: int, rows: int, tables: int = 1) -> tuple[str, list[TableSpec]]:
    """Return (Derby URL, table specs) for a seeded fixture, building
    the database in directory ``path`` on first use.

    ``shape`` is ``lineitem`` (one TPC-H lineitem-shaped table named
    LINEITEM) or ``small`` (``tables`` tables T00, T01, ... of 3–5
    mixed columns plus an ID key)."""
    meta_path = os.path.join(path, "meta.json")
    url = f"jdbc:derby:{path}/db"
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            specs = [
                TableSpec(**{**t, "columns": tuple(map(tuple, t["columns"]))})
                for t in json.load(fh)
            ]
        return url, specs
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    conn = _connect(spark, url + ";create=true")
    try:
        specs = []
        for i in range(tables):
            rng = np.random.default_rng([seed, i, 1 if shape == "small" else 0])
            if shape == "lineitem":
                name, cols = "LINEITEM", lineitem_columns(rng, rows)
            else:
                name, cols = f"T{i:02d}", small_columns(rng, rows, i)
            specs.append(
                _load_table(conn, name, cols, os.path.join(path, f"{name}.csv"))
            )
    finally:
        conn.close()
    with open(meta_path, "w") as fh:
        json.dump([s.__dict__ for s in specs], fh)
    return url, specs
