"""JDBC DataFrame source with dbeam's export semantics.

Re-expresses the read path of reference jobs/JdbcAvroJob.java +
args/JdbcExportArgs.java Spark-first:

- dbeam infers a schema by running the query `LIMIT 1`; Spark's JDBC
  source gets the same ResultSetMetaData for free when the reader is
  planned.
- dbeam's --queryParallelism/--splitColumn hand-built range queries
  (ParallelQueryBuilder) map to the JDBC source's native
  partitionColumn/lowerBound/upperBound/numPartitions — each range is
  an independent task-side scan; bounds come from the same MIN/MAX
  query dbeam runs (`findInputBounds`), executed like dbeam does: on
  one plain java.sql connection, here opened on the Spark driver.
- --fetchSize → option("fetchsize"); --preCommand →
  option("sessionInitStatement") (runs per connection, the Spark
  equivalent of dbeam's pre-command-on-the-export-connection).
- partition/limit conditions are baked into the pushed-down dbtable
  subquery via query_builder, so the database — not Spark — applies
  them (same WHERE strings dbeam generates).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from dbeam_spark.options import JdbcExportOptions
from dbeam_spark.partitions import parse_instant, parse_period
from dbeam_spark.query_builder import QueryBuilder, QueryBuilderArgs

# ref args/JdbcConnectionUtil.java driver mapping
_DRIVERS = {
    "postgresql": "org.postgresql.Driver",
    "mysql": "com.mysql.cj.jdbc.Driver",
    "mariadb": "org.mariadb.jdbc.Driver",
    "h2": "org.h2.Driver",
    "derby": "org.apache.derby.iapi.jdbc.AutoloadedDriver",
}


def driver_for_url(url: str) -> str | None:
    for key, cls in _DRIVERS.items():
        if url.startswith(f"jdbc:{key}:"):
            return cls
    return None


def query_builder_args(opts: JdbcExportOptions, sql_text: str | None = None) -> QueryBuilderArgs:
    """Build QueryBuilderArgs from export options (ref
    JdbcExportArgsFactory.createQueryArgs)."""
    if opts.table:
        args = QueryBuilderArgs.create(opts.table)
    else:
        if sql_text is None:
            with open(opts.sqlFile) as fh:
                sql_text = fh.read()
        args = QueryBuilderArgs.create_from_query(sql_text)
    from dataclasses import replace

    return replace(
        args,
        limit=opts.limit,
        partition_column=opts.partitionColumn,
        partition=parse_instant(opts.partition) if opts.partition else None,
        partition_period=parse_period(opts.partitionPeriod),
        split_column=opts.splitColumn,
        query_parallelism=opts.queryParallelism,
    )


@dataclass
class JdbcSourcePlan:
    df: DataFrame
    queries: list[str]  # dbeam-parity SQL strings for _queries/ metadata
    base_query: str = ""  # the pushed-down dbtable subquery text


def _base_reader(spark: SparkSession, opts: JdbcExportOptions, password: str | None):
    reader = (
        spark.read.format("jdbc")
        .option("url", opts.connectionUrl)
        .option("user", opts.username)
        .option("fetchsize", str(opts.fetchSize))
    )
    if password is not None:
        reader = reader.option("password", password)
    driver = driver_for_url(opts.connectionUrl)
    if driver:
        reader = reader.option("driver", driver)
    if opts.preCommand:
        reader = reader.option("sessionInitStatement", "; ".join(opts.preCommand))
    return reader


def _connect(
    spark: SparkSession,
    url: str,
    username: str | None,
    password: str | None,
):
    """One java.sql connection opened on the Spark driver. The known
    driver class is registered through Spark's DriverRegistry first,
    so a driver added with --jars resolves exactly as it does for the
    JDBC reader."""
    jvm = spark._jvm
    driver = driver_for_url(url)
    if driver:
        jvm.org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register(
            driver
        )
    props = jvm.java.util.Properties()
    if username:
        props.setProperty("user", username)
    if password is not None:
        props.setProperty("password", password)
    return jvm.java.sql.DriverManager.getConnection(url, props)


def find_input_bounds(
    spark: SparkSession,
    opts: JdbcExportOptions,
    password: str | None,
    min_max_sql: str,
) -> tuple[int, int]:
    """Run dbeam's MIN/MAX bounds query on one driver-side connection,
    after every --preCommand statement (ref
    ParallelQueryBuilder.findInputBounds). A NULL MIN means the table
    is empty, which dbeam reports as no record."""
    conn = _connect(spark, opts.connectionUrl, opts.username, password)
    try:
        stmt = conn.createStatement()
        for command in opts.preCommand:
            stmt.execute(command)
        rs = stmt.executeQuery(min_max_sql)
        low = rs.getLong(1) if rs.next() else None
        if low is None or rs.wasNull():
            raise ValueError("Result Set for Min/Max returned zero records")
        return low, rs.getLong(2)
    finally:
        conn.close()


def collect_source_type_names(
    spark: SparkSession,
    opts: JdbcExportOptions,
    password: str | None,
    base_sql: str,
) -> dict[str, str]:
    """Column label -> SOURCE SQL type name (lowercased), read from
    java.sql ResultSetMetaData over a zero-row probe — the same
    metadata the reference's JdbcAvroSchema.getColumnTypeName reads.
    Spark's JDBC reader erases DB-specific types (Postgres ``uuid``
    arrives as StringType); these names feed
    ``spark_schema_to_avro(logical_type_hints=...)`` so logical types
    survive into the exported schema."""
    conn = _connect(spark, opts.connectionUrl, opts.username, password)
    try:
        stmt = conn.createStatement()
        rs = stmt.executeQuery(
            f"SELECT * FROM ({base_sql}) md_probe WHERE 1=0"
        )
        md = rs.getMetaData()
        return {
            md.getColumnLabel(i): md.getColumnTypeName(i).lower()
            for i in range(1, md.getColumnCount() + 1)
        }
    finally:
        conn.close()


def read_jdbc(
    spark: SparkSession,
    opts: JdbcExportOptions,
    password: str | None = None,
    sql_text: str | None = None,
) -> JdbcSourcePlan:
    """Plan the export read: a (possibly range-partitioned) DataFrame
    plus the dbeam-parity SQL strings for metadata output."""
    qargs = query_builder_args(opts, sql_text)
    partitioned_qb = qargs._partitioned()

    bounds: tuple[int, int] | None = None
    if qargs.query_parallelism and qargs.split_column:
        bounds = find_input_bounds(
            spark, opts, password, partitioned_qb.min_max_query(qargs.split_column)
        )
        if qargs.limit is not None:
            # dbeam bakes `LIMIT limit/k` into each range query (and so
            # exports k*floor(limit/k) rows); Spark executes un-limited
            # ranged reads plus ONE engine-side global limit. Record the
            # plan we actually run so _queries/ describes the executed
            # read, not dbeam's.
            queries = replace(qargs, limit=None).build_queries(
                find_bounds=lambda _sql: bounds
            )
            queries.append(
                f"-- LIMIT {qargs.limit} applied engine-side to the "
                "union of the range queries above"
            )
        else:
            queries = qargs.build_queries(find_bounds=lambda _sql: bounds)
    else:
        queries = qargs.build_queries()

    reader = _base_reader(spark, opts, password).option(
        "dbtable", f"({partitioned_qb.build()}) export_query"
    )
    if bounds is not None:
        reader = (
            reader.option("partitionColumn", qargs.split_column)
            .option("lowerBound", str(bounds[0]))
            # Spark's upperBound is exclusive; +1 keeps the max row
            .option("upperBound", str(bounds[1] + 1))
            .option("numPartitions", str(qargs.query_parallelism))
        )
    df = reader.load()
    if qargs.limit is not None:
        # LIMIT syntax is dialect-specific (Derby lacks it); dbeam bakes
        # it into SQL, we apply it engine-side for portability.
        df = df.limit(qargs.limit)
    return JdbcSourcePlan(
        df=df, queries=queries, base_query=partitioned_qb.build()
    )


def list_tables(
    spark: SparkSession,
    connection_url: str,
    username: str | None = None,
    password: str | None = None,
    schema_pattern: str | None = None,
) -> list[str]:
    """Discover exportable TABLEs via java.sql DatabaseMetaData
    .getTables — the JDBC-standard catalog walk (works on any driver
    Spark can load; the reference has no schema-wide mode, each dbeam
    run names one table). Returns sorted fully-usable table names:
    bare names when the table lives in the connection's default
    schema, SCHEMA.NAME otherwise. System schemas (SYS*,
    INFORMATION_SCHEMA, PG_CATALOG) are skipped."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    conn = _connect(spark, connection_url, username, password)
    try:
        md = conn.getMetaData()
        types = gw.new_array(jvm.java.lang.String, 1)
        types[0] = "TABLE"
        rs = md.getTables(None, schema_pattern, "%", types)
        default_schema = None
        try:
            default_schema = conn.getSchema()
        except Exception:
            pass  # older drivers: no getSchema; always qualify
        out = []
        while rs.next():
            sch = rs.getString("TABLE_SCHEM") or ""
            name = rs.getString("TABLE_NAME")
            up = sch.upper()
            if up.startswith("SYS") or up in (
                "INFORMATION_SCHEMA",
                "PG_CATALOG",
            ):
                continue
            if default_schema is not None and up == default_schema.upper():
                out.append(name)
            elif sch:
                out.append(f"{sch}.{name}")
            else:
                out.append(name)
        return sorted(out)
    finally:
        conn.close()
