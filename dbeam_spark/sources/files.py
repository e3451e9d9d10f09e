"""Parquet table loaders for the star-schema testdata.

At 100 TB these would be partitioned/bucketed catalog tables; here the
contract is the same — `load_table` returns a lazily-scanned DataFrame
whose filters/projections Catalyst pushes into the parquet scan
(verify with ``df.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# WeakKeyDictionary[session] -> {(sf_dir, name, file_sig): DataFrame}.
# spark.read.parquet pays footer/schema inference on EVERY call
# (~0.1s of driver time per table per query); the testdata tables are
# immutable within a session, so the lazy plan is reusable. Keying the
# outer map on a WEAK session reference means stopped sessions (test
# suites create/stop many) release their plans instead of pinning the
# JVM-side state for the process lifetime, and the (size, mtime_ns)
# file signature in the inner key makes a regenerated parquet file a
# cache MISS even inside a live session.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _file_sig(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return (0, 0)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name, _file_sig(path))
    df = per_session.get(key)
    if df is None:
        if name == "events":
            df = _load_events(spark, sf_dir)
        else:
            df = spark.read.parquet(path)
        per_session[key] = df
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_ts(df, "ts")


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """A timestamp column's physical type varies by generator version:
    TIMESTAMP(NANOS) (rejected by Spark unless read nanos-as-long),
    TIMESTAMP_NTZ (micros, no zone), or a plain UTC timestamp.
    Normalize all three to a session-UTC TimestampType so every
    downstream query sees one contract (micros, UTC — matching DuckDB's
    reading of the same file). Works on batch and streaming frames."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema[col].dataType
    if isinstance(ts_type, T.LongType):  # nanos-as-long
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} DIV 1000").cast("long"))
        )
    if isinstance(ts_type, T.TimestampNTZType):
        # Wall time with no zone: the oracle (DuckDB) reads it naive;
        # session is pinned UTC, so a plain cast is the identity map.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df
