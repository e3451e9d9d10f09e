"""Read dbeam-style Avro exports back into Spark, distributed.

The inverse of avro/writer.py: schema comes from the first file's
header alone (driver-side, no block is read); data decoding is one
task per file via mapInPandas over the file list — no driver collect,
scales with file count exactly like Spark's native file sources. Both
go through avro/reader.py, and so through the one definition of the
container format in avro/ocf.py.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dbeam_spark.avro.ocf import unwrap
from dbeam_spark.avro.reader import read_avro_file, read_avro_schema

_PRIMITIVES = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def _avro_to_spark_type(avro_type, logical_as_timestamp: bool) -> T.DataType:
    t, logical = unwrap(avro_type)
    if logical == "timestamp-millis":
        return T.TimestampType() if logical_as_timestamp else T.LongType()
    if isinstance(t, dict):  # array
        return T.ArrayType(_avro_to_spark_type(t["items"], logical_as_timestamp))
    if t in _PRIMITIVES:
        return _PRIMITIVES[t]
    raise ValueError(f"Unsupported Avro type: {avro_type!r}")


def avro_schema_to_spark(avro_schema: dict, logical_as_timestamp: bool = True) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f["name"],
                _avro_to_spark_type(f["type"], logical_as_timestamp),
                True,
            )
            for f in avro_schema["fields"]
        ]
    )


def read_avro(
    spark: SparkSession,
    path: str,
    logical_as_timestamp: bool = True,
    reader_schema: dict | None = None,
) -> DataFrame:
    """Load an Avro export directory (or single .avro file).

    ``reader_schema`` applies the Avro spec's schema-resolution rules
    per file (avro/reader.py::_resolve): a consumer can read old and
    new exports of a table through ONE evolved schema — new fields
    fill from defaults, dropped fields are skipped, numeric/string
    promotions apply — so the returned frame has a stable shape
    across years of export history."""
    files = sorted(
        glob.glob(os.path.join(path, "*.avro")) if os.path.isdir(path) else [path]
    )
    if not files:
        raise FileNotFoundError(f"No .avro files under {path}")
    if reader_schema is not None:
        avro_schema = reader_schema
    else:
        avro_schema = read_avro_schema(files[0])
    spark_schema = avro_schema_to_spark(avro_schema, logical_as_timestamp)
    names = [f.name for f in spark_schema.fields]
    ts_cols = {
        f["name"]
        for f in avro_schema["fields"]
        if logical_as_timestamp and unwrap(f["type"])[1] == "timestamp-millis"
    }

    paths_df = spark.createDataFrame(
        [(p,) for p in files], "path string"
    ).repartition(len(files))

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for p in pdf["path"]:
                _, rows = read_avro_file(p, reader_schema=reader_schema)
                out = pd.DataFrame(rows, columns=names)
                for c in ts_cols:
                    out[c] = pd.to_datetime(out[c], unit="ms")
                yield out

    return paths_df.mapInPandas(decode, spark_schema)
