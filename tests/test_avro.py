from __future__ import annotations

import glob
import re

import pytest
from pyspark.sql import types as T

from dbeam_spark.avro.reader import read_avro_file
from dbeam_spark.avro.schema import (
    merge_input_schema,
    spark_schema_to_avro,
)
from dbeam_spark.avro.writer import OcfEncoder, write_avro


def _schema():
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("small", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("ratio", T.FloatType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )


def test_type_mapping_matches_dbeam_table():
    avro = spark_schema_to_avro(_schema(), "tbl", use_logical_types=False)
    types = {f["name"]: f["type"][1] for f in avro["fields"]}
    assert types["id"] == "long"
    assert types["small"] == "int"
    assert types["name"] == "string"
    assert types["amount"] == "double"
    assert types["ratio"] == "float"
    assert types["flag"] == "boolean"
    assert types["ts"] == "long"
    assert types["blob"] == "bytes"
    assert types["tags"] == {"type": "array", "items": "string"}
    # every field is a nullable union with null default, like dbeam
    for f in avro["fields"]:
        assert f["type"][0] == "null" and f["default"] is None


def test_logical_types_flag():
    avro = spark_schema_to_avro(_schema(), "tbl", use_logical_types=True)
    ts = next(f for f in avro["fields"] if f["name"] == "ts")
    assert ts["type"][1] == {"type": "long", "logicalType": "timestamp-millis"}


def test_array_mode_bytes():
    avro = spark_schema_to_avro(_schema(), "tbl", array_mode="bytes")
    tags = next(f for f in avro["fields"] if f["name"] == "tags")
    assert tags["type"][1] == "bytes"


def test_nullable_array_items():
    avro = spark_schema_to_avro(_schema(), "tbl", nullable_array_items=True)
    tags = next(f for f in avro["fields"] if f["name"] == "tags")
    assert tags["type"][1]["items"] == ["null", "string"]


def test_decimal_maps_to_string_like_reference_default():
    """DECIMAL/NUMERIC has no row in docs/type-conversion.md: it falls
    to the reference's default case (JdbcAvroSchema.java:318-324
    `default: return field.stringType()`), with or without
    --useAvroLogicalTypes — the reference defines no decimal
    logicalType, so neither do we."""
    schema = T.StructType([T.StructField("price", T.DecimalType(12, 2))])
    for logical in (False, True):
        avro = spark_schema_to_avro(schema, "tbl", use_logical_types=logical)
        assert avro["fields"][0]["type"][1] == "string", logical


def test_array_handling_mode_parity():
    """Mirrors reference ArrayHandlingModeTest: all three published
    values validate; an unknown one raises the reference's message.
    In Spark the two typed modes coincide (Catalyst already carries
    array item types, so no first-row probe / PG typname parse is
    needed) — but the flag surface and error text match."""
    import pytest

    from dbeam_spark.options import JdbcExportOptions

    for mode in ("bytes", "typed_first_row", "typed_postgres"):
        JdbcExportOptions(
            connectionUrl="jdbc:postgresql://h/db", table="t", arrayMode=mode
        ).validate()
        avro = spark_schema_to_avro(_schema(), "tbl", array_mode=mode)
        tags = next(f for f in avro["fields"] if f["name"] == "tags")
        expected = (
            "bytes" if mode == "bytes"
            else {"type": "array", "items": "string"}
        )
        assert tags["type"][1] == expected
    with pytest.raises(
        ValueError,
        match=re.escape(
            "Invalid value 'invalid' for array handling mode. "
            "Allowed values: [bytes, typed_first_row, typed_postgres]"
        ),
    ):
        JdbcExportOptions(
            connectionUrl="jdbc:postgresql://h/db",
            table="t",
            arrayMode="invalid",
        ).validate()


def test_merge_input_schema_propagates_docs():
    generated = spark_schema_to_avro(_schema(), "tbl")
    merged = merge_input_schema(
        generated,
        {
            "doc": "my table doc",
            "namespace": "my.ns",
            "fields": [{"name": "id", "doc": "primary key"}],
        },
    )
    assert merged["doc"] == "my table doc"
    assert merged["namespace"] == "my.ns"
    assert next(f for f in merged["fields"] if f["name"] == "id")["doc"] == "primary key"
    # non-propagated fields keep the generated doc
    assert "sparkType" in next(f for f in merged["fields"] if f["name"] == "name")["doc"]


@pytest.mark.parametrize(
    "codec",
    ["null", "deflate1", "deflate9", "bzip2", "xz", "snappy", "zstandard"],
)
def test_ocf_roundtrip_codecs(codec, tmp_path):
    schema = spark_schema_to_avro(
        T.StructType(
            [
                T.StructField("a", T.LongType()),
                T.StructField("s", T.StringType()),
                T.StructField("arr", T.ArrayType(T.IntegerType())),
            ]
        ),
        "t",
    )
    enc = OcfEncoder(schema, codec)
    cols = [[1, None, 3], ["x", "y", None], [[1, 2], [], None]]
    p = tmp_path / "t.avro"
    p.write_bytes(enc.header() + b"".join(enc.encode_rows(cols)))
    _, rows = read_avro_file(str(p))
    assert rows == [(1, "x", [1, 2]), (None, "y", []), (3, None, None)]


@pytest.mark.parametrize(
    "codec",
    ["null", "deflate6", "bzip2", "xz", "snappy", "zstandard"],
)
def test_export_types_never_take_the_per_cell_path(codec, monkeypatch):
    """Every column kind of a lineitem-shaped export batch is built by
    the Arrow column builder: with the per-cell scalar encoders patched
    to raise, the batch still encodes, byte-identical to the scalar
    reference. A type that slips back onto the per-cell path fails
    here, with no timing involved."""
    from decimal import Decimal

    import pyarrow as pa

    import dbeam_spark.avro.writer as writer

    day_ms = 86_400_000
    columns = [  # (name, Spark type, Arrow type, values, scalar values)
        ("L_ORDERKEY", T.LongType(), pa.int64(), [1, 2, 3, 2**40], None),
        ("L_LINENUMBER", T.IntegerType(), pa.int32(), [1, 2, None, -7], None),
        ("L_TAX", T.DecimalType(15, 2), pa.decimal128(15, 2),
         [Decimal("0.08"), None, Decimal("-1.50"), Decimal("0.00")], None),
        ("L_RETURNFLAG", T.StringType(), pa.string(), ["R", "A", None, "N"], None),
        ("L_SHIPDATE", T.DateType(), pa.date32(), [8036, None, 0, -1],
         [8036 * day_ms, None, 0, -day_ms]),
        ("L_COMMENT", T.StringType(), pa.string(),
         ["slyly ironic", "", "é" * 70, None], None),
        ("L_FLAG", T.BooleanType(), pa.bool_(), [True, None, False, True], None),
        ("L_TS", T.TimestampType(), pa.timestamp("us", tz="UTC"),
         [1_700_000_000_123_456, None, -1, 0], [1_700_000_000_123, None, -1, 0]),
    ]
    schema = spark_schema_to_avro(
        T.StructType([T.StructField(n, t) for n, t, *_ in columns]), "lineitem"
    )
    rb = pa.RecordBatch.from_arrays(
        [pa.array(vals, at) for _, _, at, vals, _ in columns],
        names=[n for n, *_ in columns],
    )
    want = b"".join(
        OcfEncoder(schema, codec).encode_rows(
            [vals if scalar is None else scalar for *_, vals, scalar in columns]
        )
    )

    def per_cell(*args, **kwargs):
        raise AssertionError("a column took the per-cell scalar path")

    monkeypatch.setattr(writer, "_normalize_series", per_cell)
    monkeypatch.setattr(writer, "_make_cell_encoder", lambda avro_type: per_cell)
    assert b"".join(OcfEncoder(schema, codec).encode_batch(rb)) == want


def test_unknown_codec_rejected():
    with pytest.raises(ValueError, match="lz77"):
        OcfEncoder(spark_schema_to_avro(T.StructType([]), "t"), "lz77")


def test_distributed_write(spark, tmp_path):
    df = spark.range(0, 10_000, numPartitions=8).selectExpr(
        "id", "CAST(id AS STRING) AS s", "CAST(id * 0.5 AS DOUBLE) AS d"
    )
    avro = spark_schema_to_avro(df.schema, "nums")
    out = str(tmp_path / "out")
    stats = write_avro(df, out, avro, codec="deflate6")
    assert sum(s["rows"] for s in stats) == 10_000
    files = sorted(glob.glob(out + "/part-*.avro"))
    assert len(files) == 8
    rows = []
    for f in files:
        _, r = read_avro_file(f)
        rows.extend(r)
    assert len(rows) == 10_000
    assert sorted(rows)[0] == (0, "0", 0.0)
    assert sorted(rows)[-1] == (9999, "9999", 4999.5)


def test_nan_vs_null_doubles(spark, tmp_path):
    """SQL NULL doubles export as Avro null; genuine NaN stays a NaN
    double (dbeam's JdbcAvroRecord getDouble+wasNull convention) —
    even though the Arrow→pandas hop inside the writer collapses both
    into NaN."""
    import math

    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, CAST(1.5 AS DOUBLE)), "
        "(2, CAST(NULL AS DOUBLE)), "
        "(3, CAST('NaN' AS DOUBLE)) AS t(id, d)"
    )
    avro = spark_schema_to_avro(df.schema, "t")
    out = str(tmp_path / "nan")
    write_avro(df, out, avro)
    rows = []
    for f in sorted(glob.glob(out + "/part-*.avro")):
        rows.extend(read_avro_file(f)[1])
    by_id = {r[0]: r[1] for r in rows}
    assert by_id[1] == 1.5
    assert by_id[2] is None
    assert isinstance(by_id[3], float) and math.isnan(by_id[3])


def test_read_avro_roundtrip_source(spark, tmp_path):
    from dbeam_spark.sources.avro import read_avro

    df = spark.range(0, 5_000, numPartitions=4).selectExpr(
        "id",
        "CONCAT('v', id) AS s",
        "timestamp_millis(1700000000000 + id * 1000) AS ts",
    )
    avro = spark_schema_to_avro(df.schema, "t", use_logical_types=True)
    out = str(tmp_path / "rt")
    write_avro(df, out, avro)
    back = read_avro(spark, out)
    assert back.schema["ts"].dataType.typeName() == "timestamp"
    assert back.count() == 5_000
    a = sorted(tuple(r) for r in df.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_uuid_logical_type_hint(spark):
    """Reference parity (JdbcAvroSchema.java:304-305): an OTHER/uuid
    column exported with --useAvroLogicalTypes carries logicalType
    uuid on its string field; without the flag it is a plain string."""
    from pyspark.sql import types as T

    from dbeam_spark.avro.schema import spark_schema_to_avro

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("token", T.StringType()),
        ]
    )
    hinted = spark_schema_to_avro(
        schema, "t", use_logical_types=True,
        logical_type_hints={"token": "uuid"},
    )
    fld = [f for f in hinted["fields"] if f["name"] == "token"][0]
    assert fld["type"][1] == {"type": "string", "logicalType": "uuid"}
    plain = spark_schema_to_avro(
        schema, "t", use_logical_types=False,
        logical_type_hints={"token": "uuid"},
    )
    fld = [f for f in plain["fields"] if f["name"] == "token"][0]
    assert fld["type"][1] == "string"


def test_avro_to_parquet_roundtrip(spark, tmp_path):
    """Export → Avro → parquet conversion preserves every row and
    honors hive partitioning (A40)."""
    from pyspark.sql import functions as F

    from dbeam_spark.avro.schema import spark_schema_to_avro
    from dbeam_spark.avro.writer import write_avro
    from dbeam_spark.jobs.avro_to_parquet import run_convert

    df = spark.range(0, 500).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("bucket"),
        (F.col("id") * 2.5).alias("x"),
    )
    export_dir = str(tmp_path / "export")
    write_avro(df, export_dir, spark_schema_to_avro(df.schema, "t"))

    out_dir = str(tmp_path / "lake")
    stats = run_convert(spark, export_dir, out_dir, partition_by="bucket")
    assert stats["rows"] == 500
    back = spark.read.parquet(out_dir)
    assert sorted(back.columns) == ["bucket", "id", "x"]
    assert back.filter("bucket = '1'").count() == df.filter(
        "bucket = '1'"
    ).count()
    got = sorted((r["id"], r["x"]) for r in back.collect())
    assert got == [(i, i * 2.5) for i in range(500)]

    import pytest

    with pytest.raises(ValueError):
        run_convert(spark, export_dir, out_dir, partition_by="nope")


def test_typed_array_data_round_trip(spark, tmp_path):
    """typed_postgres array mode, END-TO-END on data (the slice
    reference e2e/ddl.sql exercises with real PG arrays): frames
    shaped exactly as Spark's Postgres JDBC dialect produces them —
    int[] / text[] columns, NULL arrays, NULL items — survive the
    OCF writer and read back value-exact. Fails if the writer or the
    generated schema mishandles nullable items or null arrays."""
    import glob as _glob

    df = spark.createDataFrame(
        [
            (0, [1, 2, 3], ["a", "b"], [10, None, 30]),
            (1, [], ["x"], [None]),
            (2, None, None, None),  # NULL arrays
            (3, [7], [""], [0]),
        ],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("ints", T.ArrayType(T.IntegerType())),
                T.StructField("texts", T.ArrayType(T.StringType())),
                T.StructField(
                    "nullable_items",
                    T.ArrayType(T.IntegerType(), containsNull=True),
                ),
            ]
        ),
    )
    avro = spark_schema_to_avro(
        df.schema,
        "array_tbl",
        array_mode="typed_postgres",
        nullable_array_items=True,
    )
    by_name = {f["name"]: f["type"][1] for f in avro["fields"]}
    assert by_name["ints"] == {"type": "array", "items": ["null", "int"]}
    assert by_name["texts"] == {"type": "array", "items": ["null", "string"]}
    out = str(tmp_path / "arr")
    write_avro(df.repartition(1), out, avro, codec="null")
    rows = []
    for f in sorted(_glob.glob(out + "/part-*.avro")):
        rows.extend(read_avro_file(f)[1])
    got = {r[0]: (r[1], r[2], r[3]) for r in map(tuple, rows)}
    assert got[0] == ([1, 2, 3], ["a", "b"], [10, None, 30])
    assert got[1] == ([], ["x"], [None])
    assert got[2] == (None, None, None)
    assert got[3] == ([7], [""], [0])


def test_ocf_bytes_readable_by_java_avro_reference_reader(spark, tmp_path):
    """Byte-compatibility proof for the pure-Python OCF writer: files
    it produces are read back by the REFERENCE Java Avro library
    (org.apache.avro on Spark's classpath — the same implementation
    dbeam itself writes with), per codec. A container-format or
    varint/union encoding bug would fail here even if our own Python
    reader round-trips symmetrically."""
    import glob as _glob

    df = spark.createDataFrame(
        [
            (0, "alpha", 1.5, True, bytearray(b"\x00\xff"), [1, 2]),
            (1, None, None, False, None, None),
            (2, "", -2.25, None, bytearray(b""), []),
        ],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("amount", T.DoubleType()),
                T.StructField("flag", T.BooleanType()),
                T.StructField("blob", T.BinaryType()),
                T.StructField("tags", T.ArrayType(T.IntegerType())),
            ]
        ),
    )
    avro = spark_schema_to_avro(df.schema, "jtbl")
    jvm = spark.sparkContext._jvm
    for codec in ("null", "deflate6", "bzip2"):
        out = str(tmp_path / f"jref_{codec}")
        write_avro(df.repartition(1), out, avro, codec=codec)
        path = sorted(_glob.glob(out + "/part-*.avro"))[0]
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        assert reader.getSchema().getName() == "jtbl"
        got = {}
        while reader.hasNext():
            rec = reader.next()
            rid = rec.get("id")
            name = rec.get("name")
            blob = rec.get("blob")
            tags = rec.get("tags")
            got[rid] = (
                None if name is None else str(name),
                rec.get("amount"),
                rec.get("flag"),
                None if blob is None else bytes(blob.array()),
                None if tags is None else [t for t in tags],
            )
        reader.close()
        assert got[0] == ("alpha", 1.5, True, b"\x00\xff", [1, 2]), codec
        assert got[1] == (None, None, False, None, None), codec
        assert got[2] == ("", -2.25, None, b"", []), codec


def test_reader_schema_resolution(spark, tmp_path):
    """Avro spec schema resolution on read-back: a consumer's EVOLVED
    reader schema (new defaulted field, dropped field, int→long and
    float→double promotions) reads years-old export bytes correctly —
    the contract dbeam consumers get from Java Avro."""
    import glob as _glob

    df = spark.createDataFrame(
        [(1, 10, 1.5, "keepme", "dropme")],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("n", T.IntegerType()),
                T.StructField("ratio", T.FloatType()),
                T.StructField("name", T.StringType()),
                T.StructField("legacy", T.StringType()),
            ]
        ),
    )
    writer = spark_schema_to_avro(df.schema, "tbl")
    out = str(tmp_path / "old_export")
    write_avro(df.repartition(1), out, writer, codec="deflate6")
    path = _glob.glob(out + "/part-*.avro")[0]
    reader = {
        "type": "record",
        "name": "tbl",
        "fields": [
            {"name": "id", "type": ["null", "long"], "default": None},
            # int → long promotion
            {"name": "n", "type": ["null", "long"], "default": None},
            # float → double promotion
            {"name": "ratio", "type": ["null", "double"], "default": None},
            {"name": "name", "type": ["null", "string"], "default": None},
            # NEW field, filled from default ('legacy' is dropped)
            {"name": "added", "type": ["null", "string"],
             "default": "fallback"},
        ],
    }
    schema, rows = read_avro_file(path, reader_schema=reader)
    assert schema is reader
    assert rows == [(1, 10, 1.5, "keepme", "fallback")]
    assert isinstance(rows[0][1], int) and isinstance(rows[0][2], float)
    # a reader field with NO default and no writer match must fail
    import pytest as _pytest

    bad = {
        "type": "record",
        "name": "tbl",
        "fields": [{"name": "ghost", "type": ["null", "string"]}],
    }
    with _pytest.raises(ValueError, match="no default"):
        read_avro_file(path, reader_schema=bad)


def test_read_avro_with_evolved_reader_schema(spark, tmp_path):
    """sources/avro.read_avro(reader_schema=...): one evolved schema
    reads a MIX of old- and new-generation export files into a single
    stable Spark frame."""
    old_df = spark.createDataFrame(
        [(1, "a")],
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
        ),
    )
    new_df = spark.createDataFrame(
        [(2, "b", 9)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.StringType()),
                T.StructField("extra", T.LongType()),
            ]
        ),
    )
    d = str(tmp_path / "mixed")
    write_avro(
        old_df.repartition(1), d, spark_schema_to_avro(old_df.schema, "t"),
        codec="null", filename_prefix="gen1",
    )
    write_avro(
        new_df.repartition(1), d, spark_schema_to_avro(new_df.schema, "t"),
        codec="null", filename_prefix="gen2",
    )
    from dbeam_spark.sources.avro import read_avro

    reader = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": ["null", "long"], "default": None},
            {"name": "v", "type": ["null", "string"], "default": None},
            {"name": "extra", "type": ["null", "long"], "default": None},
        ],
    }
    got = sorted(
        map(tuple, read_avro(spark, d, reader_schema=reader).collect())
    )
    assert got == [(1, "a", None), (2, "b", 9)]


def test_java_avro_reads_python_ocf(spark, tmp_path):
    """Cross-implementation compatibility: files produced by the
    pure-Python OCF writer must be readable by the REFERENCE Java
    Avro implementation (org.apache.avro on Spark's own classpath —
    the same library dbeam-core's writer uses), codec included.
    This is the jar-backed byte-compatibility check: a wrong sync
    marker, block framing, zigzag varint or deflate stream makes
    DataFileReader throw, and value round-trips are compared."""
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, 'alpha', CAST(1.5 AS DOUBLE), true), "
        "(2, NULL, CAST(-2.25 AS DOUBLE), false), "
        "(3, 'gamma', CAST(NULL AS DOUBLE), NULL) "
        "AS t(id, s, d, b)"
    ).coalesce(1)
    avro = spark_schema_to_avro(df.schema, "t")
    for codec in ("null", "deflate6", "bzip2"):
        out = str(tmp_path / f"jref_{codec}")
        write_avro(df, out, avro, codec=codec)
        part = sorted(glob.glob(out + "/part-*.avro"))[0]
        jvm = spark._jvm
        jfile = jvm.java.io.File(part)
        dreader = jvm.org.apache.avro.generic.GenericDatumReader()
        freader = jvm.org.apache.avro.file.DataFileReader(jfile, dreader)
        expect_meta = {"null": "null", "deflate6": "deflate",
                       "bzip2": "bzip2"}[codec]
        assert freader.getMetaString("avro.codec") == expect_meta
        got = {}
        while freader.hasNext():
            rec = freader.next()
            rid = int(str(rec.get("id")))
            sval = rec.get("s")
            dval = rec.get("d")
            got[rid] = (
                None if sval is None else str(sval),
                None if dval is None else float(str(dval)),
                rec.get("b"),
            )
        freader.close()
        assert got == {
            1: ("alpha", 1.5, True),
            2: (None, -2.25, False),
            3: ("gamma", None, None),
        }, got
        # schema fidelity through the reference parser
        jschema = freader.getSchema()
        names = [str(f.name()) for f in jschema.getFields()]
        assert names == ["id", "s", "d", "b"]
