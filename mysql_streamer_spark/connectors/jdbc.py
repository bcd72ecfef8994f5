"""JDBC snapshot/backfill source (S8).

The reference snapshots schemas with ``mysqldump --no-data`` and backfills
via its refresh tables (components/mysql_tools.py:48-69); Spark-native
backfill is a partitioned JDBC read: N executors each pull one primary-key
range, so a 100 TB-source backfill parallelizes instead of serializing
through one connection. The helpers keep option-building pure (testable
without a live database).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_streamer_spark.storage import scratch_dir

DEFAULT_FETCH_SIZE = 10_000


def snapshot_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetch_size: int = DEFAULT_FETCH_SIZE,
    driver: str | None = None,
) -> dict[str, str]:
    """JDBC reader options for a parallel snapshot.

    With a numeric ``partition_column`` (normally the primary key) Spark
    issues ``num_partitions`` range-predicated queries in parallel; without
    one the read is single-stream (correct but slow — only for tiny dims).
    """
    opts = {
        "url": url,
        "dbtable": table,
        "fetchsize": str(fetch_size),
        # a snapshot must be one transactionally-consistent cut, like the
        # reference's --single-transaction dump
        "isolationLevel": "REPEATABLE_READ",
    }
    if driver is not None:
        opts["driver"] = driver
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned snapshot needs lower/upper bounds")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def jdbc_snapshot(spark: SparkSession, **kwargs) -> DataFrame:
    """spark.read over a live MySQL/any-JDBC table (see snapshot_options)."""
    return spark.read.format("jdbc").options(**snapshot_options(**kwargs)).load()


# ---------------------------------------------------------------------------
# embedded source-database fixture (Apache Derby, already on Spark's
# classpath) — lets the snapshot path be exercised END-TO-END in-sandbox
# against a real JDBC database instead of staying unit-test-only
# ---------------------------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

_SQL_TYPE = {
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "REAL",
    "boolean": "BOOLEAN",
    "string": "VARCHAR(4096)",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


#: fixture urls keyed by (applicationId, cache_key) — registered queries
#: construct their plan repeatedly in a long bench/correctness session, and
#: without this memo every construction boots a fresh Derby instance and
#: leaks its JVM memory, file locks, and mkdtemp directory.
_FIXTURE_CACHE: dict[tuple[str, str], str] = {}

def shutdown_derby(spark: SparkSession, url: str) -> None:
    """Cleanly shut down one embedded Derby database, releasing its page
    cache and file locks. Derby signals a SUCCESSFUL single-db shutdown by
    raising SQLException 08006, so the expected exception is swallowed; a
    later connection on the same url auto-boots the database again."""
    jvm = spark._jvm
    try:
        jvm.java.sql.DriverManager.getConnection(url + ";shutdown=true")
    except Exception:
        pass  # 08006 "database shut down" is the success signal


def embedded_derby_fixture(
    spark: SparkSession, df: DataFrame, table: str, cache_key: str | None = None
) -> str:
    """Materialize a SMALL DataFrame into a throwaway embedded Derby
    database and return its JDBC url — the in-sandbox stand-in for the
    live MySQL master the reference snapshots (mysql_tools.py:48-69).

    Driver-side by design: this SEEDS a source database for snapshot
    verification (bounded dimension tables); the snapshot READ back out is
    the distributed partitioned-JDBC path under test. Each UNCACHED call
    creates a fresh database directory; pass ``cache_key`` to reuse one
    fixture across repeated plan constructions of the same query (keyed
    per Spark application). The database is shut down after seeding —
    reads auto-boot it — and every fixture directory is removed at
    interpreter exit."""
    app_id = spark.sparkContext.applicationId
    if cache_key is not None:
        hit = _FIXTURE_CACHE.get((app_id, cache_key))
        if hit is not None:
            return hit
    db_dir = scratch_dir("mss_derby_") + "/db"
    url = f"jdbc:derby:{db_dir}"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    try:
        cols = ", ".join(
            f"{name} {_SQL_TYPE[dtype]}" for name, dtype in df.dtypes
        )
        st = conn.createStatement()
        st.executeUpdate(f"CREATE TABLE {table} ({cols})")
        rows = df.collect()
        names = [name for name, _ in df.dtypes]
        for i in range(0, len(rows), 500):
            values = ", ".join(
                "(" + ", ".join(_sql_literal(r[n]) for n in names) + ")"
                for r in rows[i : i + 500]
            )
            st.executeUpdate(f"INSERT INTO {table} VALUES {values}")
        st.close()
    finally:
        conn.close()
    shutdown_derby(spark, url)
    if cache_key is not None:
        _FIXTURE_CACHE[(app_id, cache_key)] = url
    return url


def execute_statements(spark: SparkSession, url: str, statements: list[str]) -> None:
    """Run DDL/DML statements against a JDBC database (driver-side control
    plane — the mutation half of a snapshot-diff test cycle)."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.executeUpdate(sql)
        st.close()
    finally:
        conn.close()


def snapshot_diff(before: DataFrame, after: DataFrame, keys: list[str]) -> DataFrame:
    """Consistent-snapshot diff -> CDC change events: the batch-CDC pattern
    for sources with no binlog (and the reference's full-refresh backfill
    semantics — a `_data_pipeline_refresh` pass is exactly 'replay the
    current snapshot as changes', low_level_binlog_stream_reader_wrapper
    .py:114-127), computed declaratively.

    Output: the key columns, ``message_type`` in {insert, update, delete},
    and for every non-key column ``c`` the after image ``c`` (NULL on
    delete) plus the before image ``before_c`` (NULL on insert).
    Unchanged rows are omitted. Presence is judged on explicit join
    markers, never on value nullness, and change on null-safe comparison
    — a legitimately-NULL cell is a value, not an absence.

    Scale shape: one equi shuffle per side on the key for the full-outer
    join (AQE picks broadcast when a side is small); classification is a
    map-side expression. At 100 TB this is the standard two-snapshot
    reconciliation plan."""
    from functools import reduce

    non_keys = [c for c in before.columns if c not in keys]
    b = before.select(
        *keys,
        *[F.col(c).alias(f"b_{c}") for c in non_keys],
        F.lit(True).alias("in_b"),
    )
    a = after.select(
        *keys,
        *[F.col(c).alias(f"a_{c}") for c in non_keys],
        F.lit(True).alias("in_a"),
    )
    j = b.join(a, keys, "full_outer")
    changed = reduce(
        lambda x, y: x | y,
        [~F.col(f"b_{c}").eqNullSafe(F.col(f"a_{c}")) for c in non_keys],
        F.lit(False),
    )
    mt = (
        F.when(F.col("in_b").isNull(), F.lit("insert"))
        .when(F.col("in_a").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("message_type", mt)
        .filter(F.col("message_type").isNotNull())
        .select(
            *keys,
            "message_type",
            *[F.col(f"a_{c}").alias(c) for c in non_keys],
            *[F.col(f"b_{c}").alias(f"before_{c}") for c in non_keys],
        )
    )
