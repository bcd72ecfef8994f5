"""Envelope construction: refresh rerouting, transaction id, schema id.

Reference behavior being re-expressed:

- Refresh rerouting (S4): rows arriving on ``<t>_data_pipeline_refresh`` are
  relabeled to the base table ``t`` with message_type ``refresh``
  (low_level_binlog_stream_reader_wrapper.py:61, 114-127).
- Transaction id (P5): ``(cluster_name, log_file, log_pos)`` — the
  deterministic global ordering key that replaces the reference's
  single-thread invariant (util/transaction_id.py:22-68). Exposed as a
  sortable ``txn_order`` long so per-key ordering is a window/sort, and as
  the idempotency key for exactly-once sinks.
- Envelope projection (P3): schema_id + payload + position + timestamp
  (util/message_builder.py:51-78).

Schema ids come from the DDL-replayed registry (schema/bootstrap.py): its
``(database, table) -> schema_id`` dimension is a JVM-local relation
(``LocalTableScan``, built once per application) that is broadcast, so the
stream-side join is shuffle-free and runs no Python task, mirroring the
reference's per-table schema cache (T1, schema_wrapper.py:79-83) as a
broadcast join instead of a driver-side dict. A literal-map lookup
(``create_map`` + ``try_element_at``) was measured instead and dropped: it
scans its keys linearly per row (7-9 s on 2M rows at 1,000 tables, 0.47 s
for the join).

Every mapping here is defined once, as cached ``Column`` expressions
(``refresh_columns``, ``transaction_columns``, ``envelope_columns``). A
Column is an unresolved expression that belongs to no session, so every
micro-batch reuses them: building the envelope plan costs a few dozen py4j
calls instead of one or more per ``when``/``lit``/``withColumn``. The
DataFrame helpers are thin ``withColumns``/``select`` wrappers over them.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.source import REFRESH_SUFFIX


@lru_cache(maxsize=1)
def refresh_columns() -> dict[str, Column]:
    """S4 as (name -> Column): ``<t>_data_pipeline_refresh`` rows -> base
    table, type=refresh. Both read the incoming ``table``."""
    is_refresh = F.col("table").endswith(REFRESH_SUFFIX)
    return {
        "message_type": F.when(is_refresh, F.lit("refresh")).otherwise(
            F.col("message_type")
        ),
        "table": F.when(
            is_refresh,
            F.expr(f"substring(table, 1, length(table) - {len(REFRESH_SUFFIX)})"),
        ).otherwise(F.col("table")),
    }


def reroute_refresh_tables(df: DataFrame) -> DataFrame:
    """S4: ``<t>_data_pipeline_refresh`` rows -> base table, type=refresh."""
    return df.withColumns(refresh_columns())


#: Bit layout of ``txn_order``: file_no:15 | log_pos:32 | offset:16 (63 bits,
#: fits a signed long). Real-binlog bounds: ``log_pos`` is a byte offset into
#: one binlog file, capped by max_binlog_size at 4 GiB = 2^32; ``offset`` is
#: the row index inside one RowsEvent (an event is < 2^16 rows in practice
#: since events are bounded by binlog_row_event_max_size); ``file_no`` is the
#: live binlog-file counter (purge policy keeps the retained set << 2^15).
TXN_FILE_SHIFT = 2**48
TXN_POS_SHIFT = 2**16


@lru_cache(maxsize=None)
def transaction_columns(cluster_name: str = "refresh_primary") -> dict[str, Column]:
    """P5: the (cluster, log_file, log_pos, offset) ordering key as
    (name -> Column).

    ``txn_order`` folds (file_number, log_pos, offset) into one monotonic
    long with disjoint bit ranges (see TXN_* constants above) so binlog order
    is preserved under a plain numeric sort and the long doubles as the
    exactly-once idempotency key (reference util/transaction_id.py:22-68 +
    the single-thread ordering invariant,
    base_parse_replication_stream.py:143).
    """
    file_no = F.substring_index("log_file", ".", -1).cast("long")
    return {
        "cluster_name": F.lit(cluster_name),
        "txn_order": (
            file_no * F.lit(TXN_FILE_SHIFT)
            + F.col("log_pos") * F.lit(TXN_POS_SHIFT)
            + F.col("offset")
        ).cast("long"),
    }


def with_transaction_id(df: DataFrame, cluster_name: str = "refresh_primary") -> DataFrame:
    """P5: attach ``cluster_name`` and ``txn_order`` (transaction_columns)."""
    return df.withColumns(transaction_columns(cluster_name))


def registry_schema_dimension(spark) -> DataFrame:
    """T1's slowly-changing dimension from the ONE source of truth: the
    DDL-replayed SchemaRegistry (schema/bootstrap.py). Tiny at any scale
    (one row per registered table) -> broadcast at the join site."""
    from mysql_streamer_spark.schema.bootstrap import registry_dim_df

    return registry_dim_df(spark)


def with_schema_ids(df: DataFrame, dim: DataFrame | None = None) -> DataFrame:
    """T1 as a broadcast join: stream -> (database, table) -> schema_id.

    Rows for tables the registry has never seen keep a NULL schema_id (the
    reference would block and register on miss; a batch plan surfaces the
    miss instead of hiding it)."""
    dim = dim if dim is not None else registry_schema_dimension(df.sparkSession)
    return df.join(F.broadcast(dim), on=["database", "table"], how="left")


def per_key_ordered(env: DataFrame) -> DataFrame:
    """The parallel substitute for the reference's single-thread total
    order (base_parse_replication_stream.py:143): co-locate each
    (database, table, pk) on one partition and sort within partitions by
    txn_order. Consumers reading a partition stream see every key's
    changes in binlog order — the guarantee downstream appliers need —
    while partitions process in parallel."""
    return env.repartition(
        "database_name", "table_name", "pk"
    ).sortWithinPartitions("database_name", "table_name", "pk", "txn_order")


def write_envelope_partitioned(env: DataFrame, path: str) -> None:
    """Phase-0 sink layout: parquet partitioned by (database, table) so a
    per-table consumer prunes everything else at the directory level."""
    per_key_ordered(env).write.mode("overwrite").partitionBy(
        "database_name", "table_name"
    ).parquet(path)


@lru_cache(maxsize=1)
def envelope_columns() -> tuple[Column, ...]:
    """P3: the final flat message envelope (column order = schema) over a
    rerouted, keyed, schema-id-joined frame.

    Flat columns rather than nested structs: every value is still present
    (payload_*, position, meta/transaction id), and a flat schema keeps the
    sink parquet friendly to column pruning + predicate pushdown for
    downstream consumers.
    """
    return (
        F.col("schema_id"),
        F.col("cluster_name"),
        F.col("database").alias("database_name"),
        F.col("table").alias("table_name"),
        F.col("message_type"),
        F.col("timestamp"),
        F.col("log_file"),
        F.col("log_pos"),
        F.col("offset"),
        F.col("txn_order"),
        F.col("pk"),
        F.col("payload_k"),
        F.col("payload_val"),
        # refresh messages never carry a previous payload (reference
        # RefreshMessage semantics, low_level_binlog_stream_reader_wrapper.py:44-48)
        F.when(F.col("message_type") != "refresh", F.col("before_val"))
        .alias("previous_payload_val"),
    )


def build_envelope(df: DataFrame, cluster_name: str = "refresh_primary") -> DataFrame:
    """S4 rerouting + P5 key in one projection, the T1 broadcast join, then
    the P3 projection: three plan steps over cached Columns."""
    keyed = df.withColumns({**refresh_columns(), **transaction_columns(cluster_name)})
    return with_schema_ids(keyed).select(*envelope_columns())
