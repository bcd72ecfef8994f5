"""The composed CDC pipeline — the reference's whole DML hot path as one
declarative DataFrame plan (SURVEY.md §7 phase 0).

    events (binlog stand-in)
      -> normalize to CDC shape           (S1/S3, source.py)     one select
      -> heartbeat split, schema blacklist,
         [optional] table whitelist       (F5/S7, F1, F2)         one filter
      -> refresh rerouting + transaction
         id                               (S4, P5)                one withColumns
      -> schema id                        (T1)                    broadcast join
      -> envelope projection              (P3)                    one select

Because it is a single Catalyst plan, the filters get pushed to the scan and
the schema-id lookup is a broadcast join — there is no per-event Python.

Each step's expressions are cached ``Column`` objects (source.cdc_columns,
filters.admission_predicate, envelope.refresh_columns /
transaction_columns / envelope_columns), built on first use and shared by
every batch and session. A streaming micro-batch therefore plans its
envelope in ~70 py4j calls rather than ~460, and its broadcast side is the
registry's JVM-local dimension (schema/bootstrap.registry_dim_df, one per
application), so no Python task runs for it.
"""
from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.source import events_as_cdc
from mysql_streamer_spark.cdc.filters import (
    DEFAULT_SCHEMA_BLACKLIST,
    admission_predicate,
    heartbeat_predicate,
)
from mysql_streamer_spark.cdc.envelope import build_envelope, reroute_refresh_tables
from mysql_streamer_spark.tables import load_table, spread


def cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalized CDC stream from the driver's events table.

    The feed goes through ``spread`` (r10): the local fixture is ONE
    parquet split, which serialized every downstream map stage (envelope
    projection, wire codecs, ciphers) on a single core; spread's
    partition-count guard makes it a structural no-op wherever the feed
    already arrives in >= cores splits, so at cluster scale no exchange
    is added. Batch entry points only — streaming micro-batches get
    their partitioning from the source."""
    return events_as_cdc(spread(load_table(spark, sf_dir, "events"), "event_id"))


def envelope_from_cdc(
    cdc: DataFrame,
    blacklist: Iterable[str] = DEFAULT_SCHEMA_BLACKLIST,
    table_whitelist: Iterable[str] = (),
    cluster_name: str = "refresh_primary",
) -> DataFrame:
    """Admission filters + envelope over an already-normalized CDC stream
    (single- or multi-row source, batch or streaming micro-batch)."""
    admit = admission_predicate(tuple(blacklist), tuple(table_whitelist))
    return build_envelope(cdc.filter(admit), cluster_name)


def envelope_pipeline_df(
    events: DataFrame,
    blacklist: Iterable[str] = DEFAULT_SCHEMA_BLACKLIST,
    table_whitelist: Iterable[str] = (),
    cluster_name: str = "refresh_primary",
) -> DataFrame:
    """The DML hot path on any events-shaped DataFrame — batch OR streaming
    micro-batch (every step is a stateless projection/filter plus one
    broadcast join, so the identical plan serves both modes)."""
    return envelope_from_cdc(
        events_as_cdc(events), blacklist, table_whitelist, cluster_name
    )


def envelope_pipeline(
    spark: SparkSession,
    sf_dir: str,
    blacklist: Iterable[str] = DEFAULT_SCHEMA_BLACKLIST,
    table_whitelist: Iterable[str] = (),
    cluster_name: str = "refresh_primary",
) -> DataFrame:
    """Full DML-path pipeline: events parquet -> message envelopes.
    The feed is spread across the session's cores where the scan alone
    would under-parallelize (see cdc_events)."""
    return envelope_pipeline_df(
        spread(load_table(spark, sf_dir, "events"), "event_id"),
        blacklist,
        table_whitelist,
        cluster_name,
    )


def changelog_from_cdc(
    cdc: DataFrame, blacklist: Iterable[str] = DEFAULT_SCHEMA_BLACKLIST
) -> DataFrame:
    """Changelog mode (P4) over an already-normalized CDC stream: the ONE
    composition (heartbeat split -> blacklist -> refresh rerouting ->
    constant-schema projection) shared by the batch query, the streaming
    foreachBatch body, the CLI verb, and the SQL view."""
    from mysql_streamer_spark.cdc.changelog import changelog_projection

    admitted = cdc.filter(admission_predicate(tuple(blacklist)))
    return changelog_projection(reroute_refresh_tables(admitted))


def heartbeat_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heartbeat side-channel (serial=event_id, timestamp), F4 fixture."""
    return cdc_events(spark, sf_dir).filter(heartbeat_predicate()).select(
        F.col("event_id").alias("serial"),
        F.col("timestamp"),
        F.col("log_file"),
        F.col("log_pos"),
    )
