"""Deterministic DDL event stream -> SchemaRegistry bootstrap.

The reference's schema branch consumes QueryEvents from the binlog, skips
BEGIN/COMMIT (schema_event_handler.py:139-142), drops blacklisted databases
(base_event_handler.py:51-55) and unsupported statements
(sql_handler.py:458-462), replays the rest on its schema tracker, and
registers versions with the Schematizer. Here the same admission chain runs
over a deterministic DDL stream and replays into ``SchemaRegistry``; the
resulting (database, table) -> schema_id dimension is what the envelope
broadcast-joins against — ONE source of truth for schema ids (the r1 design
had a positional dense_rank competing with the registry).

Everything here is driver-side control-plane work on a handful of
statements; the 100 TB data plane only ever sees the tiny broadcast
dimension DataFrame, a JVM-local relation (``tables.local_frame``) that
no Python task ever scans.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.filters import (
    DEFAULT_SCHEMA_BLACKLIST,
    SKIPPABLE_QUERIES,
)
from mysql_streamer_spark.cdc.source import MESSAGE_TYPE_MAP
from mysql_streamer_spark.schema.ddl_parser import StatementKind, parse_statement
from mysql_streamer_spark.schema.registry import SchemaRegistry
from mysql_streamer_spark.tables import local_frame

#: The CDC fixture's table universe: db_0/db_1 x one table per event type
#: (cdc/source.py mapping). Lexicographic order fixes registration order.
DATABASES = ("db_0", "db_1")
TABLES = tuple(sorted(MESSAGE_TYPE_MAP))


def _create_table(db: str, table: str) -> str:
    return (
        f"CREATE TABLE `{db}`.`{table}` ("
        "pk bigint NOT NULL, k int, val double, updated_at timestamp)"
    )


def bootstrap_ddl_stream() -> list[str]:
    """The deterministic QueryEvent stream: real DDL interleaved with the
    noise the admission filters must drop (F1 blacklist, F3 skippable,
    F4 unsupported)."""
    stream: list[str] = ["BEGIN"]
    for db in DATABASES:
        stream.append(f"CREATE DATABASE IF NOT EXISTS {db}")
        for table in TABLES:
            stream.append(_create_table(db, table))
    stream += [
        "COMMIT",
        # F1: blacklisted database — must not reach the registry
        "CREATE TABLE test.scratch (id int)",
        # F4: classifier yields UNSUPPORTED — dropped, never an error
        "TRUNCATE TABLE db_0.click",
        # schema evolution (T2/T3): new versions with fresh schema ids
        "ALTER TABLE db_0.purchase ADD note varchar(64)",
        "ALTER TABLE db_0.click ADD tags set('a','b','c')",
        "ALTER TABLE db_1.view MODIFY k bigint",
        # the typed-payload table (P2): every wire-transform family present
        "ALTER TABLE db_1.signup ADD amount decimal(12,2), "
        "ADD event_date date, ADD created_dt datetime, "
        "ADD wake_time time, ADD tags set('a','b','c')",
        # Q4 end-to-end: RENAME moves the table's history to the new name
        # and unregisters the old one — envelope events still arriving
        # under the old name resolve to NO schema id (the reference's
        # cache-reset window after schema_event_handler.py:115-121) until
        # a re-registration happens.
        "RENAME TABLE db_1.error TO db_1.error_archive",
        "BEGIN",
        "COMMIT",
    ]
    return stream


def replay_ddl_stream(
    statements: list[str], default_database: str | None = None
) -> SchemaRegistry:
    """F3 -> F4 -> F1 admission, then registry replay (the reference's
    schema_event_handler.handle_event order: skip checks before execute)."""
    reg = SchemaRegistry()
    for sql in statements:
        if sql.strip().upper() in SKIPPABLE_QUERIES:
            continue
        p = parse_statement(sql, default_database)
        if p.kind is StatementKind.UNSUPPORTED:
            continue
        if p.database in DEFAULT_SCHEMA_BLACKLIST:
            continue
        reg.apply_statement(p)
    return reg


@lru_cache(maxsize=1)
def bootstrap_registry() -> SchemaRegistry:
    return replay_ddl_stream(bootstrap_ddl_stream())


def registry_dim_rows() -> list[tuple[str, str, int]]:
    """(database, table, latest schema_id) — the broadcast dimension."""
    reg = bootstrap_registry()
    return [
        (db, table, reg.get(db, table).schema_id) for db, table in reg.tables()
    ]


#: applicationId -> the registry dimension frame. The registry is a
#: process-wide ``lru_cache`` (bootstrap_registry), so the frame never goes
#: stale; caching it keeps its build off every micro-batch.
_DIM_CACHE: dict[str, DataFrame] = {}
_DIM_SCHEMA = pa.schema(
    [("database", pa.string()), ("table", pa.string()), ("schema_id", pa.int32())]
)


def registry_dim_df(spark: SparkSession) -> DataFrame:
    """(database, table, schema_id) as a JVM-local relation, one per
    application: the envelope's broadcast side runs no Python task."""
    app = spark.sparkContext.applicationId
    dim = _DIM_CACHE.get(app)
    if dim is None:
        dim = _DIM_CACHE[app] = local_frame(spark, registry_dim_rows(), _DIM_SCHEMA)
    return dim


def schemas_values_sql() -> str:
    """The identical dimension as a DuckDB VALUES CTE body (lock-step with
    registry_dim_df, generated from the same replay)."""
    rows = ", ".join(
        f"('{db}', '{table}', {sid})" for db, table, sid in registry_dim_rows()
    )
    return f'SELECT * FROM (VALUES {rows}) AS t(database, "table", schema_id)'


#: Deterministic effective-from instants for schema versions (the binlog
#: position at which each DDL took effect, projected onto the fixture's
#: January-2024 event clock). v1 predates the stream; each later version of
#: the i-th multi-version table (lexicographic) cuts over at a distinct
#: mid-stream day so the as-of routing genuinely splits the events.
VERSION_EPOCH = "2023-12-01 00:00:00"


def _version_cut(multi_idx: int, version: int) -> str:
    day = 5 + 3 * multi_idx + 8 * (version - 2)
    return f"2024-01-{day:02d} 00:00:00"


@lru_cache(maxsize=1)
def versioned_dim_rows() -> list[tuple[str, str, int, int, str, str | None]]:
    """(database, table, version, schema_id, eff_ts, eff_end) — every schema
    version with its validity interval [eff_ts, eff_end). The interval form
    turns as-of resolution into a broadcastable equi/range join: each event
    matches EXACTLY ONE version, map-side, no window shuffle."""
    reg = bootstrap_registry()
    multi = sorted(
        (db, t) for db, t in reg.tables() if len(reg.history(db, t)) > 1
    )
    midx = {key: i for i, key in enumerate(multi)}
    rows: list[tuple[str, str, int, int, str, str | None]] = []
    for db, table in reg.tables():
        hist = reg.history(db, table)
        cuts = [VERSION_EPOCH] + [
            _version_cut(midx[(db, table)], e.version) for e in hist[1:]
        ]
        for i, e in enumerate(hist):
            eff_end = cuts[i + 1] if i + 1 < len(cuts) else None
            rows.append((db, table, e.version, e.schema_id, cuts[i], eff_end))
    return rows


#: versioned_dim_rows' columns, eff_ts/eff_end as "%Y-%m-%d %H:%M:%S" strings
_INTERVAL_SCHEMA = pa.schema(
    [
        ("database", pa.string()),
        ("table", pa.string()),
        ("version", pa.int32()),
        ("schema_id", pa.int32()),
        ("eff_ts", pa.string()),
        ("eff_end", pa.string()),
    ]
)


def interval_dim_df(
    spark: SparkSession, rows: list[tuple[str, str, int, int, str, str | None]]
) -> DataFrame:
    """Interval rows (versioned_dim_rows' shape) -> the typed version
    dimension (database, table, version, schema_id, eff_ts, eff_end), as a
    JVM-local relation."""
    return local_frame(spark, rows, _INTERVAL_SCHEMA).withColumns(
        {"eff_ts": F.to_timestamp("eff_ts"), "eff_end": F.to_timestamp("eff_end")}
    )


def versioned_dim_df(spark: SparkSession) -> DataFrame:
    return interval_dim_df(spark, versioned_dim_rows())


def versioned_dim_values_sql() -> str:
    """The identical interval dimension as a DuckDB VALUES CTE body."""
    rows = ", ".join(
        "('{}', '{}', {}, {}, TIMESTAMP '{}', {})".format(
            db,
            table,
            version,
            sid,
            eff,
            f"TIMESTAMP '{end}'" if end is not None else "CAST(NULL AS TIMESTAMP)",
        )
        for db, table, version, sid, eff, end in versioned_dim_rows()
    )
    return (
        f'SELECT * FROM (VALUES {rows}) AS t(database, "table", version, '
        "schema_id, eff_ts, eff_end)"
    )


def _sq(s: str) -> str:
    return s.replace("'", "''")


def registry_state_values_sql() -> str:
    """Full registry history as a DuckDB VALUES relation — the golden oracle
    for the ``schema_registry_state`` query."""
    reg = bootstrap_registry()
    rows = []
    for db, table in reg.tables():
        for e in reg.history(db, table):
            r = e.to_row()
            rows.append(
                "({})".format(
                    ", ".join(
                        [
                            f"'{_sq(r['database'])}'",
                            f"'{_sq(r['table'])}'",
                            str(r["version"]),
                            str(r["schema_id"]),
                            f"'{_sq(r['struct_json'])}'",
                            f"'{_sq(r['transformation_map'])}'",
                            f"'{_sq(r['source_ddl'])}'",
                        ]
                    )
                )
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ') AS t(database, "table", version, schema_id, struct_json, '
        "transformation_map, source_ddl)"
    )
