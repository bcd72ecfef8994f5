"""Adapt the driver's ``events`` table into a CDC row-change stream.

The reference consumes pymysqlreplication binlog events and normalizes each
changed row into a ``DataEvent`` (reference: replication_handler/util/misc.py:55-86;
test-harness generator replication_handler_testing/events.py:85-95). The
driver's synthetic ``events`` parquet table plays the role of the binlog here
(FIXTURES.md §F3): this module maps it *deterministically* into that
normalized row-change shape so the whole downstream pipeline (filters,
envelope, changelog, checkpointing) is exercised end-to-end and remains
checkable against a DuckDB oracle.

Mapping rules (pure column expressions — Catalyst-friendly, and mirrored
verbatim in the oracle SQL):

- ``database``: ``user_id % 10 == 9`` -> ``yelp_heartbeat`` (heartbeat rows,
  reference util/misc.py:35); ``user_id % 10 == 8`` -> ``test`` (a
  blacklisted schema); otherwise ``db_<user_id % 2>``.
- ``table``: heartbeat db -> ``replication_heartbeat``; every 13th event is
  attributed to the table's ``_data_pipeline_refresh`` twin (exercises the
  refresh rerouting of low_level_binlog_stream_reader_wrapper.py:114-127);
  otherwise the event_type is the table name.
- ``message_type``: signup->create, purchase->update, error->delete,
  click/view->create (refresh rerouting later overrides to ``refresh``).
- position: ``log_file = binlog.<event_id div 1000>``,
  ``log_pos = (event_id mod 1000) * 4 + 4``, ``offset = 0``
  (LogPosition, reference util/position.py:117-164).
- payload: ``pk = user_id``, ``k`` extracted from the ``props`` JSON,
  ``val = value``; updates additionally carry the previous payload
  (``before_val``), modeled as a deterministic function of the row.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Normalized CDC event columns (pre-envelope), FIXTURES.md §F3.
CDC_EVENT_COLUMNS = (
    "event_id",
    "database",
    "table",
    "message_type",
    "timestamp",
    "log_file",
    "log_pos",
    "offset",
    "pk",
    "payload_k",
    "payload_val",
    "before_val",
)

#: Shared mapping constants — keep in lock-step with ORACLE_CDC_EVENTS_CTE.
HEARTBEAT_DB = "yelp_heartbeat"
HEARTBEAT_TABLE = "replication_heartbeat"
REFRESH_SUFFIX = "_data_pipeline_refresh"
MESSAGE_TYPE_MAP = {
    "signup": "create",
    "purchase": "update",
    "error": "delete",
    "click": "create",
    "view": "create",
}
#: Unmapped event types fall back to this on BOTH the Spark and oracle side.
MESSAGE_TYPE_DEFAULT = "create"


def message_type_column() -> Column:
    """event_type -> message_type as a Column expr, generated from
    MESSAGE_TYPE_MAP so Spark and the oracle CASE cannot diverge."""
    expr = None
    for src, dst in MESSAGE_TYPE_MAP.items():
        cond = F.col("event_type") == src
        expr = F.when(cond, F.lit(dst)) if expr is None else expr.when(cond, F.lit(dst))
    return expr.otherwise(F.lit(MESSAGE_TYPE_DEFAULT))


def message_type_case_sql() -> str:
    """The identical mapping as a DuckDB CASE expression."""
    whens = " ".join(f"WHEN '{s}' THEN '{d}'" for s, d in MESSAGE_TYPE_MAP.items())
    return f"CASE event_type {whens} ELSE '{MESSAGE_TYPE_DEFAULT}' END"


@lru_cache(maxsize=1)
def cdc_columns() -> tuple[Column, ...]:
    """The events -> CDC mapping as one projection (column order =
    CDC_EVENT_COLUMNS). Built once per process: a Column is an unresolved
    expression that no session owns, so every batch and every session
    reuses these instead of rebuilding them through py4j."""
    is_heartbeat = F.col("user_id") % 10 == 9
    message_type = message_type_column()
    return (
        F.col("event_id"),
        F.when(is_heartbeat, F.lit(HEARTBEAT_DB))
        .when(F.col("user_id") % 10 == 8, F.lit("test"))
        .otherwise(F.concat(F.lit("db_"), (F.col("user_id") % 2).cast("string")))
        .alias("database"),
        F.when(is_heartbeat, F.lit(HEARTBEAT_TABLE))
        .when(
            F.col("event_id") % 13 == 0,
            F.concat(F.col("event_type"), F.lit(REFRESH_SUFFIX)),
        )
        .otherwise(F.col("event_type"))
        .alias("table"),
        message_type.alias("message_type"),
        F.col("ts").alias("timestamp"),
        F.concat(
            F.lit("binlog."),
            F.lpad(F.expr("event_id div 1000").cast("string"), 6, "0"),
        ).alias("log_file"),
        ((F.col("event_id") % 1000) * 4 + 4).alias("log_pos"),
        F.lit(0).alias("offset"),
        F.col("user_id").alias("pk"),
        F.get_json_object("props", "$.k").cast("int").alias("payload_k"),
        F.col("value").alias("payload_val"),
        F.when(message_type == "update", F.col("value") - 1.0)
        .otherwise(F.lit(None).cast("double"))
        .alias("before_val"),
    )


def events_as_cdc(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) -> CDC shape."""
    return events.select(*cdc_columns())


def events_as_multirow_cdc(events: DataFrame) -> DataFrame:
    """S3 — row explode: one binlog RowsEvent carries N changed rows and
    becomes N DataEvents (reference _get_data_events_from_row_event,
    low_level_binlog_stream_reader_wrapper.py:114-135).

    Fixture model: event_id carries ``1 + event_id % 3`` rows; row *i* keeps
    the event's position but gets intra-event ``offset=i`` (the resume
    offset the reference tracks per row), a per-row pk, and a shifted
    payload. ``explode`` is the Spark-native form — it widens inside the
    scan stage, no shuffle.
    """
    cdc = events_as_cdc(events)
    return (
        cdc.withColumn(
            "i", F.explode(F.sequence(F.lit(0), (F.col("event_id") % 3).cast("int")))
        )
        .withColumn("offset", F.col("i"))
        .withColumn("pk", F.col("pk") * 10 + F.col("i"))
        .withColumn("payload_val", F.col("payload_val") + F.col("i"))
        .withColumn("before_val", F.col("before_val") + F.col("i"))
        .drop("i")
        .select(*CDC_EVENT_COLUMNS)
    )


#: DuckDB CTE producing the identical CDC shape from the raw ``events`` view.
#: Used by oracle_sql() entries; the message-type CASE is generated from
#: MESSAGE_TYPE_MAP so it stays in lock-step with events_as_cdc().
ORACLE_CDC_EVENTS_CTE = f"""
cdc AS (
  SELECT
    event_id,
    CASE
      WHEN user_id % 10 = 9 THEN '{HEARTBEAT_DB}'
      WHEN user_id % 10 = 8 THEN 'test'
      ELSE 'db_' || CAST(user_id % 2 AS VARCHAR)
    END AS database,
    CASE
      WHEN user_id % 10 = 9 THEN '{HEARTBEAT_TABLE}'
      WHEN event_id % 13 = 0 THEN event_type || '{REFRESH_SUFFIX}'
      ELSE event_type
    END AS "table",
    {message_type_case_sql()} AS message_type,
    ts AS timestamp,
    'binlog.' || lpad(CAST(event_id // 1000 AS VARCHAR), 6, '0') AS log_file,
    (event_id % 1000) * 4 + 4 AS log_pos,
    0 AS "offset",
    user_id AS pk,
    CAST(json_extract_string(props, '$.k') AS INTEGER) AS payload_k,
    value AS payload_val,
    CASE WHEN event_type = 'purchase' THEN value - 1.0 END AS before_val
  FROM events
)
"""

#: Multirow (S3) oracle: DuckDB's select-list unnest expands each event into
#: its 1 + event_id % 3 rows. MUST stay in lock-step with
#: events_as_multirow_cdc().
ORACLE_MULTIROW_CDC_CTE = (
    ORACLE_CDC_EVENTS_CTE
    + """
, multirow AS (
  SELECT
    event_id, database, "table", message_type, timestamp, log_file, log_pos,
    unnest(generate_series(0, CAST(event_id % 3 AS INT))) AS "offset",
    pk, payload_k, payload_val, before_val
  FROM cdc
), cdc_rows AS (
  SELECT
    event_id, database, "table", message_type, timestamp, log_file, log_pos,
    "offset",
    pk * 10 + "offset" AS pk,
    payload_k,
    payload_val + "offset" AS payload_val,
    before_val + "offset" AS before_val
  FROM multirow
)
"""
)
